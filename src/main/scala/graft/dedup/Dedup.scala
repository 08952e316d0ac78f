package graft.dedup

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines. All designed
  * around ONE property: never materialize the O(n^2) pair space — candidate
  * generation always goes through a bucket join (band hash, simhash chunk,
  * hyperplane bucket) so the shuffle is O(n·bands) and skew-bounded.
  *
  * (Beyond the reference's own surface; standard MinHash/SimHash/LSH
  * constructions from the public literature — Broder '97, Charikar '02 —
  * expressed as native Spark SQL expressions.)
  */
object DedupFunctions {

  /** The one SQL canonical text key (every dedup operator, and
    * `TextFunctions.fingerprint`). Oracle: the same expression,
    * `lower(regexp_replace(trim(c), '\s+', ' ', 'g'))`. */
  def canonical(c: Column): Column =
    lower(regexp_replace(trim(c), graft.text.Words.ws, " "))

  /** The 128-bit exact-dedup fingerprint of `key`: two independently
    * seeded xxhash64. Grouping on the pair instead of the key text keeps
    * the shuffle key at 16 bytes (the full normalized document as a
    * shuffle/hash-map key carried every byte twice — key + kept row — and
    * measured super-linear in the x10->x100 sweep), and the
    * any-collision probability stays negligible at corpus scale (~1e-20
    * per pair at 10^9 docs). The pair is also the persisted
    * `(__fp, __fp2)` index format that the exact, Bloom and streaming
    * faces join on, so it is defined only here. */
  private[graft] def fingerprintPair(key: Column): (Column, Column) =
    (xxhash64(key), xxhash64(lit(0x9e3779b9L), key))

  /** The exact keep rule: per fingerprint pair of `key`, the whole row
    * (every column of `df`, as `__row`) with the lowest `(priority, id)`
    * — lexicographic, so priority decides and id breaks ties; without a
    * priority column the smallest id wins. Null priorities and ids order
    * last: min_by skips null ordering values entirely, which would drop
    * a group whose rows all have null ids. One map-side-combinable
    * aggregation — no per-group sort, and the map phase collapses local
    * duplicates before the shuffle (a window + row_number ships every
    * duplicate row through the shuffle and sorts each group). Returns
    * `(__fp, __fp2, __row)`. */
  private[graft] def keepOnePerFingerprint(df: DataFrame, key: Column,
      idCol: String, priorityCol: Option[String]): DataFrame = {
    val (fp, fp2) = fingerprintPair(key)
    val idOrd = coalesce(col(idCol).cast("long"), lit(Long.MaxValue))
    val ord = priorityCol.fold(struct(idOrd))(p =>
      struct(coalesce(col(p).cast("double"), lit(Double.MaxValue)), idOrd))
    df.groupBy(fp.as("__fp"), fp2.as("__fp2"))
      .agg(min_by(struct(df.columns.toIndexedSeq.map(col): _*), ord)
        .as("__row"))
  }

  /** Word k-shingles of the canonical text, as distinct array. */
  def shingles(c: Column, k: Int): Column = {
    val toks = split(canonical(c), " ")
    array_distinct(filter(
      transform(toks, (_: Column, i: Column) =>
        array_join(slice(toks, i + 1, lit(k)), " ")),
      (_: Column, i: Column) => i <= size(toks) - k))
  }

  /** Sorted distinct 64-bit hashes of the word k-shingles — the canonical
    * set representation every near-dup operator works on. 8 bytes/shingle
    * through the shuffle instead of the shingle text, and sortedness lets
    * Jaccard run as a merge instead of a hash-set intersect. Backed by the
    * native single-pass [[graft.functions.HashExpressions.HashedWordShingles]]
    * expression — no shingle strings are ever materialized. */
  def hashedShingles(c: Column, k: Int): Column =
    graft.functions.HashExpressions.hashedWordShingles(c, k)

  /** MinHash signature over pre-hashed shingles: one primitive pass via the
    * native [[graft.functions.HashExpressions.MinHashSignature]] expression
    * (Kirsch-Mitzenmacher g_i(x) = x + i·mix(x)) — vs `numHashes` separate
    * interpreted `array_min(transform(...))` traversals. */
  def minHashSignature(hashedShingleCol: Column, numHashes: Int): Column =
    graft.functions.HashExpressions.minHashSignature(hashedShingleCol, numHashes)

  /** Band hashes of a minhash signature: `bands` values, each hashing
    * `rowsPerBand` consecutive signature entries (xxhash64 consumes the
    * long-array slice directly — no string building). */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), slice(sig, b * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** Exact Jaccard similarity of two SORTED `array<long>` hashed-shingle
    * sets — single codegen'd merge pass. */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.HashExpressions.sortedLongJaccard(a, b)

  /** Fraction of agreeing components of two equal-length MinHash
    * signatures — the unbiased estimate of Jaccard (shared by the
    * incremental and streaming near-dup verifiers so the two paths can
    * never disagree on the arithmetic). */
  def sigAgreement(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(a)

  /** Charikar 64-bit SimHash of the whitespace-tokenized, lowercased text
    * — backed by the native codegen'd
    * [[graft.functions.HashExpressions.SimHash64]] expression (one pass
    * over the characters; the former token-array UDF forced a per-row
    * serialization boundary plus a boxed Seq[String] in the scan path). */
  def simHash64(text: Column): Column =
    graft.functions.HashExpressions.simHash64(text)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Buffer of [[BoundedIdSetAggregator]]: the `max` smallest ids seen so
    * far (sorted ascending) plus a count of candidates dropped by the cap. */
  case class CappedIds(ids: Seq[Long], dropped: Long)

  /** Bounded per-bucket id collector: keeps only the `max` smallest ids,
    * counting the overflow. Unlike a `Window`+`row_number` cap (which ships
    * EVERY row of a degenerate bucket to one reducer before capping) or a
    * raw `collect_list` (unbounded reducer memory), this caps during the
    * map-side partial aggregation — a bucket shared by millions of rows
    * costs each map task at most `max` entries, and the merged buffer is
    * ≤ `max` ids regardless of bucket size.
    */
  class BoundedIdSetAggregator(max: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, CappedIds, CappedIds] {
    private def insert(b: CappedIds, id: Long): CappedIds =
      if (b.ids.length >= max) {
        if (id >= b.ids.last) CappedIds(b.ids, b.dropped + 1)
        else CappedIds((b.ids :+ id).sorted.take(max), b.dropped + 1)
      } else CappedIds((b.ids :+ id).sorted, b.dropped)
    override def zero: CappedIds = CappedIds(Vector.empty, 0L)
    override def reduce(b: CappedIds, id: Long): CappedIds = insert(b, id)
    override def merge(x: CappedIds, y: CappedIds): CappedIds = {
      val all = (x.ids ++ y.ids).sorted
      CappedIds(all.take(max), x.dropped + y.dropped + math.max(all.length - max, 0))
    }
    override def finish(b: CappedIds): CappedIds = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[CappedIds] =
      org.apache.spark.sql.Encoders.product[CappedIds]
    override def outputEncoder: org.apache.spark.sql.Encoder[CappedIds] =
      org.apache.spark.sql.Encoders.product[CappedIds]
  }

  /** All unordered in-bucket pairs of a sorted id array, as
    * `struct(l, r)` with `l < r` — generated inside the (already capped)
    * bucket, so no self-join and no second shuffle. */
  private def inBucketPairs(ids: Column): Column =
    flatten(transform(ids, (x: Column, i: Column) =>
      transform(slice(ids, i + 2, size(ids)),
        (y: Column) => struct(x.as("l"), y.as("r")))))

  /** Candidate `(__id_l, __id_r)` pairs from narrow `(__key, __id)` rows:
    * ONE shuffle (groupBy key with the bounded map-side aggregator above),
    * per-bucket cap with a dropped-candidate metric (observable as
    * `<metricName>.dropped_candidates` via a QueryExecutionListener), pair
    * explosion in-bucket, global `distinct`. Payload columns (shingle
    * arrays, embeddings) never enter this shuffle — verification joins
    * them back by id afterwards.
    */
  private[graft] def candidatePairs(keyed: DataFrame, maxBucket: Int,
      metricName: String): DataFrame =
    boundedIdsPerKey(keyed, "__id", maxBucket, metricName)
      .select(col("__b.ids").as("__ids"))
      .filter(size(col("__ids")) >= 2)
      .select(explode(inBucketPairs(col("__ids"))).as("__p"))
      .select(col("__p.l").as("__id_l"), col("__p.r").as("__id_r"))
      .filter(col("__id_l") < col("__id_r"))
      .distinct()

  /** Groups narrow `(__key, idCol)` rows on `__key` into `__b`, the
    * [[BoundedIdSetAggregator]] buffer of the key's `maxBucket` smallest
    * ids; the overflow is observable as `<metricName>.dropped_candidates`.
    * The one per-key cap of the family: self-join candidates
    * ([[candidatePairs]]) and the corpus side of every band probe
    * ([[cappedCorpusBands]]). */
  private def boundedIdsPerKey(keyed: DataFrame, idCol: String,
      maxBucket: Int, metricName: String): DataFrame = {
    val bounded = udaf(new BoundedIdSetAggregator(maxBucket),
      org.apache.spark.sql.Encoders.scalaLong)
    keyed.groupBy(col("__key")).agg(bounded(col(idCol)).as("__b"))
      .observe(metricName, sum(col("__b.dropped")).as("dropped_candidates"))
  }

  /** The capped band frame of a `(__id, __sig)` signature index: one
    * `(__key, __cid)` row per band key and corpus id, at most `maxBucket`
    * ids per key (capped before any join, so a degenerate bucket cannot
    * explode). The corpus side of the incremental and streaming MinHash
    * band probes. */
  private[graft] def cappedCorpusBands(index: DataFrame, bands: Int,
      rowsPerBand: Int, maxBucket: Int, metricName: String): DataFrame = {
    val keys = index.select(col("__id").as("__cid"),
      explode(bandHashes(col("__sig"), bands, rowsPerBand)).as("__key"))
    boundedIdsPerKey(keys, "__cid", maxBucket, metricName)
      .select(col("__key"), explode(col("__b.ids")).as("__cid"))
  }

  /** Verification payload join, both shapes. `restrict = false` (the
    * measured default): direct two-sided equi-join of the payload onto the
    * pair frame — within one action Catalyst's ReuseExchange computes and
    * shuffles the payload subplan once, and on a dup-dense corpus (where
    * most documents ARE candidates) nothing better exists. `restrict =
    * true`: the payload is first semi-joined down to candidate ids, so the
    * wide payload of non-candidate rows never enters the l/r exchanges —
    * the right shape when verified candidates are a SMALL fraction of the
    * corpus and the id set broadcasts.
    *
    * Measured motivation for the default (SCALING.md round 10): on the
    * dup-dense ScaleGen 100x corpus the candidate id set (30M) was too
    * big to broadcast, the sort-merge semi became a THIRD full-payload
    * shuffle, and walls went 35.6→49.4 s (minhash) / 41.5→71.6 s (ngram)
    * with zero shuffle saved. Restriction only helps when it restricts.
    *
    * `payload` must have an `__id` column plus `payloadCol`; the result
    * has the pair columns plus `<payloadCol>_l` / `<payloadCol>_r`.
    */
  private[graft] def joinCandidatePayload(pairs: DataFrame, payload: DataFrame,
      payloadCol: String, restrict: Boolean): DataFrame = {
    val side = if (restrict) {
      // no distinct on the id set: left_semi dedups inherently, and a
      // distinct would only add an exchange
      val candIds = pairs.select(col("__id_l").as("__id"))
        .union(pairs.select(col("__id_r").as("__id")))
      payload.join(candIds, Seq("__id"), "left_semi")
    } else payload
    pairs
      .join(side.select(col("__id").as("__id_l"),
        col(payloadCol).as(s"${payloadCol}_l")), Seq("__id_l"))
      .join(side.select(col("__id").as("__id_r"),
        col(payloadCol).as(s"${payloadCol}_r")), Seq("__id_r"))
  }

  /** Shared LAZY tail of every near-dup transform: payload join (shape
    * per `restrict`, see [[joinCandidatePayload]]), exact verification
    * with `keep`, duplicate-id projection. Everything stays one
    * declarative plan so the caller's single action lets Catalyst reuse
    * the payload exchange across the l/r joins — an eager variant
    * (persist pairs + materialize ids before returning) was measured 23%
    * slower at 10x (tasks 26→346, exchange reuse lost; SCALING.md
    * round 10) and was rejected.
    */
  private[graft] def dupIdsOf(pairs: DataFrame, payload: DataFrame,
      payloadCol: String, keep: Column, restrict: Boolean): DataFrame =
    joinCandidatePayload(pairs, payload, payloadCol, restrict)
      .filter(keep)
      .select(col("__id_r").as("__dup_id")).distinct()

  /** Duplicate ids within a Hamming ball over any 64-bit fingerprint
    * column, via the Manku block-permutation pigeonhole (see
    * [[SimHashDeduplicator]]'s scaladoc for the block/combination
    * analysis — this is that machinery, extracted so every 64-bit
    * fingerprint family (SimHash text, perceptual image hashes) shares
    * one implementation). `withFp` must carry `fpCol` (non-null — a
    * null fingerprint is "no evidence" and must be filtered by the
    * caller) plus the id; returns the distinct one-column `__dup_id`
    * frame (every id that verified within `maxHamming` of a smaller
    * id). */
  private[graft] def hammingDupIds(withFp: DataFrame, id: Column,
      fpCol: String, maxHamming: Int, nBlocks: Int, maxBucket: Int,
      metricName: String): DataFrame = {
    require(nBlocks > maxHamming,
      s"blocks ($nBlocks) must exceed maxHamming ($maxHamming)")
    // block i covers width w_i bits at offset_i; widths differ by ≤1.
    // The mask is width-64-safe (`-1L >>> (64 - w)`, all-ones at w=64):
    // `(1L << 64) - 1` overflows to 0, which at nBlocks=1/maxHamming=0
    // — a legal parameterization of every fingerprint deduper — would
    // collapse every key into ONE bucket, where the maxBucket skew
    // guard then silently drops all candidates (round-16 advice)
    val base = 64 / nBlocks; val rem = 64 % nBlocks
    val widths = (0 until nBlocks).map(i => base + (if (i < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(fp: Column, i: Int): Column =
      shiftright(fp, offsets(i)).bitwiseAND(lit(-1L >>> (64 - widths(i))))
    val combos = (0 until nBlocks).combinations(nBlocks - maxHamming).toSeq
    val keyCols = combos.zipWithIndex.map { case (bs, ci) =>
      xxhash64((lit(ci) +: bs.map(blockVal(col(fpCol), _))): _*)
    }
    val keyed = withFp.select(id.cast("long").as("__id"),
      explode(array(keyCols: _*)).as("__key"))
    val pairs = candidatePairs(keyed, maxBucket, metricName)
    // verification joins the (tiny, 16-byte) fingerprints back by id —
    // the payload is already narrow, restriction has nothing to save
    val fp = withFp.select(id.cast("long").as("__id"),
      col(fpCol).as("__fp"))
    dupIdsOf(pairs, fp, "__fp",
      hamming64(col("__fp_l"), col("__fp_r")) <= maxHamming,
      restrict = false)
  }
}

/** Exact deduplication: keep one row (smallest id) per group of rows whose
  * canonical texts share a 128-bit fingerprint pair (two independently
  * seeded xxhash64 of the canonical text). One shuffle, keyed on the 16-byte
  * pair — never the text itself. Exactness is therefore probabilistic: a
  * full 128-bit collision silently merges two DISTINCT documents, with
  * per-pair probability ~2^-128 (~1e-20 expected collisions across all
  * pairs of a 10^9-document corpus) — traded deliberately for a shuffle
  * key that carries no payload bytes at 100 TB.
  */
class ExactDeduplicator(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("ExactDeduplicator"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  def setIdCol(v: String): this.type = set(idCol, v)

  /** Optional numeric preference: within a duplicate group the LOWEST
    * priority value wins (ties break on smallest id) — the "prefer the
    * curated source's copy over the crawl's" rule of corpus curation.
    * Nulls rank last. Unset = smallest id wins (reference behavior).
    */
  final val priorityCol = new Param[String](this, "priorityCol",
    "numeric column; lowest value kept per duplicate group")
  def setPriorityCol(v: String): this.type = set(priorityCol, v)

  /** Key on the raw input string instead of the canonical text form —
    * for inputs that are already canonical keys rather than prose
    * (normalized URLs, fingerprints), where lowercasing/whitespace-
    * collapsing would over-collapse case-sensitive values. */
  final val rawKey = new BooleanParam(this, "rawKey",
    "dedup on the exact input string (skip text canonicalization)")
  setDefault(rawKey -> false)
  def setRawKey(v: Boolean): this.type = set(rawKey, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    val df = ds.toDF()
    val key = if ($(rawKey)) col(getInputCol)
      else DedupFunctions.canonical(col(getInputCol))
    DedupFunctions.keepOnePerFingerprint(df, key, $(idCol), get(priorityCol))
      .select(col("__row.*"))
  }
  override def transformSchema(schema: StructType): StructType = {
    // fail at plan-construction time with the role and column named —
    // not mid-shuffle with a raw unresolved-column error (the
    // FingerprintDeduplicatorBase pattern, swept family-wide round 18)
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "inputCol" -> getInputCol)
    if (isSet(priorityCol))
      SchemaChecks.requireCols(schema, "priorityCol" -> $(priorityCol))
    schema
  }
  override def copy(extra: ParamMap): ExactDeduplicator = defaultCopy(extra)
}
object ExactDeduplicator extends graft.core.GraftReadable[ExactDeduplicator]


/** MinHash+LSH near-duplicate removal: shingle → minhash → band →
  * bucket-join. A row is dropped when any band bucket contains a surviving
  * candidate with smaller id whose verified Jaccard ≥ threshold.
  *
  * Shuffles: explode to n·bands rows of (bandHash, id) — narrow payload —
  * then a self-join per bucket. Buckets are capped (`maxBucketSize`) so a
  * degenerate bucket (e.g. empty docs) cannot quadratically explode.
  */
class MinHashDeduplicator(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("MinHashDeduplicator"))

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
    "per-bucket candidate cap (skew guard)")
  setDefault(maxBucketSize -> 1000)
  def setMaxBucketSize(v: Int): this.type = set(maxBucketSize, v)
  final val restrictVerify = new BooleanParam(this, "restrictVerify",
    "semi-join the shingle payload down to candidate ids before the " +
      "verification joins — set true on SPARSE-dup corpora (candidates " +
      "≪ documents); measured slower when most documents are candidates")
  setDefault(restrictVerify -> false)
  def setRestrictVerify(v: Boolean): this.type = set(restrictVerify, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    import DedupFunctions._
    transformSchema(ds.schema)
    val df = ds.toDF()
    val id = col($(idCol))
    val r = $(numHashes) / $(bands)

    // band explode carries ONLY (bucket, id) — 16 bytes/row through the
    // dominant shuffle. The hashed-shingle arrays are recomputed for the
    // (far smaller) verification join below: CPU per surviving candidate
    // instead of `bands`× payload amplification through the explode.
    val buckets = df
      .withColumn("__sig", minHashSignature(
        hashedShingles(col(getInputCol), $(shingleSize)), $(numHashes)))
      .select(id.cast("long").as("__id"),
        explode(bandHashes(col("__sig"), $(bands), r)).as("__key"))
    val pairs = candidatePairs(buckets, $(maxBucketSize), s"${uid}_dropped")
    // exact-Jaccard verification: shingle sets joined back by id (shape
    // per restrictVerify — see joinCandidatePayload)
    val sh = df.select(id.cast("long").as("__id"),
      hashedShingles(col(getInputCol), $(shingleSize)).as("__sh"))
    val dupIds = dupIdsOf(pairs, sh, "__sh",
      jaccard(col("__sh_l"), col("__sh_r")) >= $(threshold), $(restrictVerify))
    df.join(dupIds, id.cast("long") === col("__dup_id"), "left_anti")
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "inputCol" -> getInputCol)
    // the survivor anti-join references the bare name __dup_id; an input
    // column of that name would make the join condition ambiguous
    SchemaChecks.requireAbsent(schema, "__dup_id")
    schema
  }
  override def copy(extra: ParamMap): MinHashDeduplicator = defaultCopy(extra)
}
object MinHashDeduplicator extends graft.core.GraftReadable[MinHashDeduplicator]


/** SimHash near-duplicate removal: 64-bit simhash, candidates via the
  * block-permutation pigeonhole (Manku et al., WWW'07 "Detecting
  * Near-Duplicates for Web Crawling"): split the fingerprint into `blocks`
  * pieces; a pair within `maxHamming` differs in at most `maxHamming`
  * blocks, so it agrees EXACTLY on some combination of
  * `blocks - maxHamming` blocks. One bucket table per combination, keyed
  * on the concatenated agreeing blocks — with the default
  * (blocks=6, maxHamming=3) each key carries ~32 bits of fingerprint, so
  * the bucket space is ~2^32 (vs 2^16 for naive 4-way chunking, whose
  * buckets go quadratic at billions of docs). C(6,3)=20 tables of narrow
  * (key, id) rows; recall for pairs within `maxHamming` is still exact.
  * Verified by exact Hamming distance.
  */
class SimHashDeduplicator(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("SimHashDeduplicator"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val maxHamming = new IntParam(this, "maxHamming", "hamming cutoff")
  setDefault(maxHamming -> 3)
  def setMaxHamming(v: Int): this.type = set(maxHamming, v)
  final val blocks = new IntParam(this, "blocks",
    "pigeonhole blocks (> maxHamming; key width grows with blocks-maxHamming)")
  setDefault(blocks -> 6)
  def setBlocks(v: Int): this.type = set(blocks, v)
  final val maxBucketSize = new IntParam(this, "maxBucketSize",
    "per-bucket candidate cap (skew guard)")
  setDefault(maxBucketSize -> 1000)
  def setMaxBucketSize(v: Int): this.type = set(maxBucketSize, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    import DedupFunctions._
    transformSchema(ds.schema)
    val df = ds.toDF()
    val id = col($(idCol))
    val nBlocks = $(blocks)
    val withFp = df.withColumn("__fp", simHash64(col(getInputCol)))
    val dupIds = hammingDupIds(withFp, id, "__fp", $(maxHamming), nBlocks,
      $(maxBucketSize), s"${uid}_dropped")
    df.join(dupIds, id.cast("long") === col("__dup_id"), "left_anti")
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "inputCol" -> getInputCol)
    // __fp is written onto the input frame; __dup_id anchors the
    // survivor anti-join condition
    SchemaChecks.requireAbsent(schema, "__fp", "__dup_id")
    schema
  }
  override def copy(extra: ParamMap): SimHashDeduplicator = defaultCopy(extra)
}
object SimHashDeduplicator extends graft.core.GraftReadable[SimHashDeduplicator]


/** N-gram Jaccard dedup without minhash: AllPairs/PPJoin-style prefix
  * filtering (Bayardo '07, Xiao '08 — public literature). Each document
  * indexes its `|sh| - ceil(t·|sh|) + 1` rarest shingles under the global
  * (documentFrequency, shingleHash) total order — any pair with Jaccard
  * >= t provably shares one of them — then exact Jaccard verification.
  *
  * Rarest-FIRST is the load-bearing choice at scale: an earlier variant
  * indexed each doc's 8 smallest-HASH shingles, and the 100x scaling
  * sweep measured it super-linear (alpha 1.75, 42 GB spill) — globally
  * small-hash common shingles collect O(corpus)-sized posting lists whose
  * pair mass grows quadratically. DF-ordered prefixes spend index slots
  * only on rare (by definition small-posting-list) shingles; df=1
  * shingles are dropped before selection since they cannot form a pair.
  * Costs one extra map-side-combinable DF aggregation — linear, skew-free.
  */
class NGramJaccardDeduplicator(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("NGramJaccardDeduplicator"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val shingleSize = new IntParam(this, "shingleSize", "word n-gram n")
  setDefault(shingleSize -> 3)
  final val indexShingles = new IntParam(this, "indexShingles",
    "minimum prefix length; the exact PPJoin length |sh|-ceil(t*|sh|)+1 is used when larger")
  setDefault(indexShingles -> 8)
  final val threshold = new DoubleParam(this, "threshold", "Jaccard cutoff")
  setDefault(threshold -> 0.8)
  def setThreshold(v: Double): this.type = set(threshold, v)
  final val maxBucketSize = new IntParam(this, "maxBucketSize",
    "per-shingle posting-list cap (guards boilerplate shingles shared by millions of docs)")
  setDefault(maxBucketSize -> 1000)
  def setMaxBucketSize(v: Int): this.type = set(maxBucketSize, v)
  final val restrictVerify = new BooleanParam(this, "restrictVerify",
    "semi-join the shingle payload down to candidate ids before the " +
      "verification joins — set true on SPARSE-dup corpora (candidates " +
      "≪ documents); measured slower when most documents are candidates")
  setDefault(restrictVerify -> false)
  def setRestrictVerify(v: Boolean): this.type = set(restrictVerify, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    import DedupFunctions._
    transformSchema(ds.schema)
    val df = ds.toDF()
    val id = col($(idCol))
    // full (distinct, hash-sorted) shingle sets; reused by the DF count,
    // the prefix selection, and the verification join — persisted so the
    // three consumers don't re-hash the corpus (size is O(total distinct
    // shingles)). Cache lifecycle: the block cannot be unpersisted before
    // return (the result's lineage still reads it) and is left cached —
    // memory yields to LRU, disk-resident parts live until session end or
    // an explicit clearCache(); repeated transform() calls accumulate one
    // block each. An eager materialize-then-unpersist variant was
    // measured 23% slower (SCALING.md round 10) and rejected.
    val sh = df.select(id.cast("long").as("__id"),
        hashedShingles(col(getInputCol), $(shingleSize)).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = sh.select(col("__id"), size(col("__sh")).as("__n"),
      explode(col("__sh")).as("__key"))
    // global shingle document frequency, map-side combinable; df=1
    // shingles can never form a candidate pair — dropped before prefix
    // selection, which also spends prefix slots only on shareable keys
    val dfreq = exploded.groupBy("__key").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
    val prefixLen = greatest(lit($(indexShingles)),
      (col("__n") - ceil(lit($(threshold)) * col("__n")) + lit(1)).cast("int"))
    // prefix selection via Window+row_number over (df, key). A map-side
    // bounded smallest-(df,key) aggregator (r9 verdict #5) was built and
    // A/B-measured warm at sf0.1/10x/100x: a wash everywhere (an apparent
    // 2x integrated regression turned out to be page-cache drift — see
    // SCALING.md round 10). Reverted to the simpler Window path: no
    // measured benefit for an extra case class + UDAF + encoder surface.
    val w = Window.partitionBy("__id").orderBy(col("__df"), col("__key"))
    val inv = exploded.join(dfreq, "__key")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= prefixLen)
      .select(col("__id"), col("__key"))
    val pairs = candidatePairs(inv, $(maxBucketSize), s"${uid}_dropped")
    // exact-Jaccard verification (shape per restrictVerify)
    val dupIds = dupIdsOf(pairs, sh, "__sh",
      jaccard(col("__sh_l"), col("__sh_r")) >= $(threshold), $(restrictVerify))
    df.join(dupIds, id.cast("long") === col("__dup_id"), "left_anti")
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "inputCol" -> getInputCol)
    SchemaChecks.requireAbsent(schema, "__dup_id")
    schema
  }
  override def copy(extra: ParamMap): NGramJaccardDeduplicator = defaultCopy(extra)
}
object NGramJaccardDeduplicator extends graft.core.GraftReadable[NGramJaccardDeduplicator]


/** Embedding cosine near-duplicate removal: random-hyperplane LSH buckets
  * (sign bits of `numPlanes` fixed pseudo-random projections, split into
  * bands) then exact cosine verification ≥ threshold.
  *
  * Defaults (64 planes / 4 bands = 16 sign bits per band) size the bucket
  * space at 65,536 values per band — collision probability for unrelated
  * vectors ~2^-16 per band, so buckets stay sparse at billion-vector scale;
  * shrink `numPlanes` for small corpora where recall matters more than
  * bucket density (a 16-bit band over 500 vectors is nearly a per-vector
  * bucket).
  */
class EmbeddingNearDupDeduplicator(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("EmbeddingNearDup"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val threshold = new DoubleParam(this, "threshold", "cosine cutoff")
  setDefault(threshold -> 0.95)
  def setThreshold(v: Double): this.type = set(threshold, v)
  final val numPlanes = new IntParam(this, "numPlanes", "hyperplanes total")
  setDefault(numPlanes -> 64)
  def setNumPlanes(v: Int): this.type = set(numPlanes, v)
  final val bands = new IntParam(this, "bands", "bands over sign bits")
  setDefault(bands -> 4)
  def setBands(v: Int): this.type = set(bands, v)
  final val seed = new LongParam(this, "seed", "hyperplane seed")
  setDefault(seed -> 42L)
  final val maxBucketSize = new IntParam(this, "maxBucketSize",
    "per-bucket candidate cap (skew guard)")
  setDefault(maxBucketSize -> 1000)
  def setMaxBucketSize(v: Int): this.type = set(maxBucketSize, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    import DedupFunctions.{candidatePairs, dupIdsOf}
    transformSchema(ds.schema)
    val df = ds.toDF()
    val id = col($(idCol))
    val dim = df.select(size(col(getInputCol))).head().getInt(0)
    val planes = graft.sim.SimilarityFunctions
      .randomPlanes($(numPlanes), dim, $(seed))
    val sigCol = graft.sim.SimilarityFunctions
      .hyperplaneSignature(col(getInputCol), planes)
    val bits = $(numPlanes) / $(bands)
    val bandCols = (0 until $(bands)).map { b =>
      xxhash64(lit(b),
        shiftright(sigCol, b * bits).bitwiseAND(lit((1L << bits) - 1)))
    }
    // narrow (bandKey, id) rows; vectors join back only for verification
    val keyed = df.select(id.cast("long").as("__id"),
      explode(array(bandCols: _*)).as("__key"))
    val pairs = candidatePairs(keyed, $(maxBucketSize), s"${uid}_dropped")
    // exact-cosine verification, direct join (dup-dense default shape)
    val vecs = df.select(id.cast("long").as("__id"), col(getInputCol).as("__v"))
    val cos = graft.sim.SimilarityFunctions.cosine(col("__v_l"), col("__v_r"))
    val dupIds = dupIdsOf(pairs, vecs, "__v", cos >= $(threshold), restrict = false)
    df.join(dupIds, id.cast("long") === col("__dup_id"), "left_anti")
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "inputCol" -> getInputCol)
    SchemaChecks.requireAbsent(schema, "__dup_id")
    schema
  }
  override def copy(extra: ParamMap): EmbeddingNearDupDeduplicator = defaultCopy(extra)
}
object EmbeddingNearDupDeduplicator extends graft.core.GraftReadable[EmbeddingNearDupDeduplicator]

