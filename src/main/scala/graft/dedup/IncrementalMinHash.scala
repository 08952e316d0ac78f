package graft.dedup

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Incremental (snapshot-delta) NEAR-duplicate removal: the MinHash
  * counterpart of [[IncrementalDeduplicator]]. A new batch is checked
  * against the curated corpus's persistent MINHASH SIGNATURE INDEX
  * (`numHashes` longs per document — ~1 KB at the 128-hash default, the
  * state a production pipeline actually keeps between snapshots), then
  * near-deduped within itself by the full [[MinHashDeduplicator]].
  *
  * Corpus-side verification follows the attached corpus:
  *  - `setCorpusIndex` (the steady-state path) verifies by signature:
  *    similarity is the fraction of agreeing signature components — the
  *    unbiased MinHash estimate of Jaccard (se ≈ sqrt(t(1-t)/numHashes),
  *    ~0.035 at t=0.8/128 hashes). Needs ONLY the index; corpus text is
  *    never reread. Borderline pairs (true Jaccard within ~2 se of the
  *    threshold) are decided by the estimate — the documented trade for
  *    not rereading 100 TB.
  *  - `setCorpus` (raw text) verifies candidates by exact shingle
  *    Jaccard against the raw corpus — batch-vs-corpus decisions then
  *    match a from-scratch rebuild (and the driver gate's SQL oracle
  *    replays them). With the text at hand the estimate would save
  *    nothing: the derived index already hashes every corpus document,
  *    and the exact verify shingles only the candidate rows.
  *
  * Scale shape: band keys explode to narrow (key, id) rows on both
  * sides; the corpus side is capped per key by the shared bounded
  * aggregator (observable drop metric) before the equi-join, so a
  * degenerate bucket cannot explode — the precondition that keeps
  * buckets naturally tiny is that the INDEX describes an
  * already-deduplicated corpus (any two index entries agree on a band
  * only with ~2^-r·64-bit probability once near-dups are gone).
  * Verification joins payloads (signatures or shingle sets) back by id;
  * neither ever rides the band shuffle.
  */
class IncrementalMinHashDeduplicator(override val uid: String)
    extends Transformer with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("IncrementalMinHashDedup"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val shingleSize = new IntParam(this, "shingleSize", "word shingle k")
  setDefault(shingleSize -> 3)
  def setShingleSize(v: Int): this.type = set(shingleSize, v)
  final val numHashes = new IntParam(this, "numHashes", "signature length")
  setDefault(numHashes -> 128)
  def setNumHashes(v: Int): this.type = set(numHashes, v)
  final val bands = new IntParam(this, "bands", "LSH bands")
  setDefault(bands -> 32)
  def setBands(v: Int): this.type = set(bands, v)
  final val threshold = new DoubleParam(this, "threshold", "Jaccard cutoff")
  setDefault(threshold -> 0.8)
  def setThreshold(v: Double): this.type = set(threshold, v)
  final val maxBucketSize = new IntParam(this, "maxBucketSize",
    "per-band-bucket corpus candidate cap (skew guard)")
  setDefault(maxBucketSize -> 1000)
  def setMaxBucketSize(v: Int): this.type = set(maxBucketSize, v)

  private var corpusRaw: DataFrame = _
  private var corpusIdx: DataFrame = _
  /** Raw corpus documents (id + text): the index is derived on the fly
    * and candidates verify by exact shingle Jaccard. */
  def setCorpus(df: DataFrame): this.type = { corpusRaw = df; corpusIdx = null; this }
  /** Precomputed `(__id, __sig)` frame from
    * [[IncrementalMinHashDeduplicator.signatureIndex]]: candidates verify
    * by signature agreement. */
  def setCorpusIndex(df: DataFrame): this.type = { corpusIdx = df; corpusRaw = null; this }

  override def transform(ds: Dataset[_]): DataFrame = {
    import DedupFunctions._
    transformSchema(ds.schema)
    val df = ds.toDF()
    val id = col($(idCol))
    val r = $(numHashes) / $(bands)
    require(corpusRaw != null || corpusIdx != null,
      "setCorpus or setCorpusIndex first")
    val index =
      if (corpusIdx != null) corpusIdx.select(col("__id"), col("__sig"))
      else IncrementalMinHashDeduplicator.signatureIndex(
        corpusRaw, $(idCol), getInputCol, $(shingleSize), $(numHashes))
    val batchSig = df.select(id.cast("long").as("__id"),
      minHashSignature(
        hashedShingles(col(getInputCol), $(shingleSize)), $(numHashes))
        .as("__sig"))
    val batchKeys = batchSig.select(col("__id"),
      explode(bandHashes(col("__sig"), $(bands), r)).as("__key"))
    // per-bucket corpus cap BEFORE the join (map-side bounded, dropped
    // candidates observable) — the two-frame analogue of candidatePairs
    val cKeyed = cappedCorpusBands(index, $(bands), r, $(maxBucketSize),
      s"${uid}_dropped")
    // materialized: the verify joins reference the candidate frame three
    // times (batch restrict, corpus restrict, pair join) and without the
    // barrier each reference replans — and re-executes — the whole band
    // join. Bounded: candidates are batch docs that agreed with an
    // already-deduplicated corpus on a band, O(dup rate · batch) rows
    // (the same O(batch) bound the streaming face's per-batch broadcasts
    // ride). The barrier also stops the (far larger) plan-tree
    // duplication measured at sf0.1: the lazy formulation replanned this
    // subtree into every verify/anti consumer — 1,873 physical operators
    // / 225 tree-section Exchanges / 540 scans for the gate query
    // (plans/r19/; the formatted output's details section repeats every
    // operator name, so naive substring counts doubled these figures —
    // PlanStats now counts the tree section only).
    // localCheckpoint trades fault tolerance for the plan truncation: the
    // checkpointed blocks are NOT recomputable, so an executor loss (e.g.
    // dynamic deallocation at cluster scale) fails the batch job instead
    // of recomputing — acceptable for a snapshot delta, which simply
    // re-runs; a deployment that cannot re-run a batch should persist the
    // frame to reliable storage instead.
    val cands = batchKeys.join(cKeyed, Seq("__key"))
      .select(col("__id"), col("__cid")).distinct()
      .localCheckpoint()
    // verification payloads are computed ONLY for candidate rows: the
    // batch/corpus text is semi-joined down to candidate ids BEFORE the
    // shingle/signature projection, so the expensive hashing runs per
    // candidate, not per corpus document (the restrict=true shape of
    // joinCandidatePayload — here candidates ≪ corpus BY DESIGN, the
    // index describes an already-deduplicated corpus). The id frames
    // carry no catalog stats (they derive from a checkpointed RDD), so
    // the planner cannot size them itself: hint broadcast, but only
    // while their MEASURED size fits the session's own broadcast bound,
    // spark.sql.autoBroadcastJoinThreshold (-1 turns the hints off, as
    // it turns off the planner's). Counting the materialized checkpoint
    // is nearly free, and candidates are only O(dup rate · batch)
    // RELATIVE to the corpus, not absolutely small (r19 verdict: a huge
    // high-dup-rate delta could push an unconditional hint past the 8 GB
    // broadcast cap and fail where a shuffle join finishes). A
    // candidate row is two longs (16 B) and every hinted frame is a
    // projection of cands (dropIds ⊆ its batch side), so one
    // measurement bounds every hint.
    val candBytes = cands.count() * 16L
    val broadcastLimit = SQLConf.get.autoBroadcastJoinThreshold
    def maybeBroadcast(f: DataFrame): DataFrame =
      if (broadcastLimit >= 0 && candBytes <= broadcastLimit) broadcast(f)
      else f
    val dropIds =
      if (corpusRaw == null) { // index only: signature agreement
        val bSig = df.select(id.cast("long").as("__id"),
            col(getInputCol).as("__t"))
          .join(maybeBroadcast(cands.select(col("__id")).distinct()),
            Seq("__id"), "left_semi")
          .select(col("__id"), minHashSignature(
            hashedShingles(col("__t"), $(shingleSize)), $(numHashes))
            .as("__sig"))
        val cSig = index
          .join(maybeBroadcast(cands.select(col("__cid").as("__id")).distinct()),
            Seq("__id"), "left_semi")
          .select(col("__id").as("__cid"), col("__sig").as("__csig"))
        cands
          .join(bSig, Seq("__id"))
          .join(cSig, Seq("__cid"))
          .filter(sigAgreement(col("__sig"), col("__csig")) >= $(threshold))
          .select(col("__id")).distinct()
      } else { // raw corpus attached: exact shingle Jaccard
        val bsh = df.select(id.cast("long").as("__id"),
            col(getInputCol).as("__t"))
          .join(maybeBroadcast(cands.select(col("__id")).distinct()),
            Seq("__id"), "left_semi")
          .select(col("__id"),
            hashedShingles(col("__t"), $(shingleSize)).as("__sh"))
        val csh = corpusRaw.select(col($(idCol)).cast("long").as("__cid"),
            col(getInputCol).as("__t"))
          .join(maybeBroadcast(cands.select(col("__cid")).distinct()),
            Seq("__cid"), "left_semi")
          .select(col("__cid"),
            hashedShingles(col("__t"), $(shingleSize)).as("__csh"))
        cands
          .join(bsh, Seq("__id"))
          .join(csh, Seq("__cid"))
          .filter(jaccard(col("__sh"), col("__csh")) >= $(threshold))
          .select(col("__id")).distinct()
      }
    // materialized survivor boundary: the inner self-dedup references its
    // input FOUR times (band explode, the l/r payload joins, the survivor
    // anti-join); without the barrier each reference re-executes the
    // whole corpus-clear pipeline above. Survivors are O(batch) rows —
    // the delta a snapshot pipeline holds by definition.
    val survivors = df.join(
      maybeBroadcast(dropIds.select(col("__id").as("__drop_id"))),
      id.cast("long") === col("__drop_id"), "left_anti")
      .localCheckpoint()
    // near-dedup WITHIN the corpus-cleared batch (exact-Jaccard verify —
    // the batch's own text is at hand)
    new MinHashDeduplicator().setInputCol(getInputCol).setIdCol($(idCol))
      .setShingleSize($(shingleSize)).setNumHashes($(numHashes))
      .setBands($(bands)).setThreshold($(threshold))
      .setMaxBucketSize($(maxBucketSize))
      .transform(survivors)
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "inputCol" -> getInputCol)
    // the survivor anti-join references the bare name __drop_id
    SchemaChecks.requireAbsent(schema, "__drop_id")
    schema
  }
  override def copy(extra: ParamMap): IncrementalMinHashDeduplicator = {
    val c = defaultCopy[IncrementalMinHashDeduplicator](extra)
    c.corpusRaw = corpusRaw; c.corpusIdx = corpusIdx
    c
  }
}

object IncrementalMinHashDeduplicator
    extends graft.core.GraftReadable[IncrementalMinHashDeduplicator] {
  /** The persistent `(__id, __sig)` signature index of a document frame
    * — `numHashes` longs per doc. Union each batch's survivor index onto
    * it for the next snapshot (the [[IncrementalDeduplicator]] pattern). */
  def signatureIndex(df: DataFrame, idCol: String, inputCol: String,
      shingleSize: Int, numHashes: Int): DataFrame = {
    import DedupFunctions._
    df.select(col(idCol).cast("long").as("__id"),
      minHashSignature(hashedShingles(col(inputCol), shingleSize), numHashes)
        .as("__sig"))
  }
}
