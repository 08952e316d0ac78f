package graft.dedup

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental (snapshot-delta) exact deduplication: dedup a NEW batch of
  * documents against an already-curated corpus AND against itself, without
  * ever reprocessing the corpus text. The production shape of corpus
  * curation — a crawl snapshot lands every week; the curated corpus is
  * 100 TB and must not be re-deduped from scratch; what persists between
  * snapshots is the 16-byte-per-document fingerprint index, not the text.
  *
  * Two corpus inputs are accepted:
  *  - `setCorpus(df)`: raw documents; fingerprints are computed on the
  *    fly (convenient, re-reads the corpus text once);
  *  - `setCorpusIndex(df)`: a precomputed `(__fp, __fp2)` frame from
  *    [[IncrementalDeduplicator.fingerprintIndex]] — the steady-state
  *    path. The index of this batch's survivors
  *    ([[IncrementalDeduplicator.fingerprintIndex]] of the output,
  *    unioned onto the previous index) is next week's corpus index.
  *
  * Fingerprints are the [[ExactDeduplicator]] 128-bit pair (two
  * independently seeded xxhash64 of the canonical text), so a corpus
  * deduped by ExactDeduplicator and one deduped incrementally agree
  * exactly (same canonicalization, same collision posture).
  *
  * Scale shape: within-batch dedup is one map-side-combining `min_by`
  * aggregation keyed on the fingerprint pair (the batch payload's only
  * shuffle); the corpus side ships ONLY fingerprints into a left-anti
  * join on the same key — Catalyst reuses the aggregation's hash
  * partitioning for the join's left side, so the corpus check adds no
  * second payload exchange. Nothing in the plan scales with corpus text
  * size, only with the fingerprint count.
  */
class IncrementalDeduplicator(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("IncrementalDedup"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  def setIdCol(v: String): this.type = set(idCol, v)

  /** Same semantics as [[ExactDeduplicator.priorityCol]]: within a
    * duplicate group of the NEW batch, lowest priority wins, ties break
    * on smallest id. (Corpus copies always win over batch copies — the
    * corpus is immutable history.) */
  final val priorityCol = new Param[String](this, "priorityCol",
    "numeric column; lowest value kept per in-batch duplicate group")
  def setPriorityCol(v: String): this.type = set(priorityCol, v)

  // per-run inputs, not model state (the NearestNeighbors.setQueries
  // pattern): only params persist; the loader re-attaches the corpus
  private var corpusRaw: DataFrame = _
  private var corpusIdx: DataFrame = _
  def setCorpus(df: DataFrame): this.type = { corpusRaw = df; corpusIdx = null; this }
  def setCorpusIndex(df: DataFrame): this.type = { corpusIdx = df; corpusRaw = null; this }

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    require(corpusRaw != null || corpusIdx != null,
      "setCorpus or setCorpusIndex first")
    val df = ds.toDF()
    val index =
      if (corpusIdx != null) corpusIdx.select(col("__fp"), col("__fp2"))
      else IncrementalDeduplicator.fingerprintIndex(corpusRaw, getInputCol)
    // in-batch collapse first (map-side combine does most of the work),
    // THEN the corpus anti-join on the already-partitioned group key
    DedupFunctions.keepOnePerFingerprint(df,
        DedupFunctions.canonical(col(getInputCol)), $(idCol), get(priorityCol))
      .join(index, Seq("__fp", "__fp2"), "left_anti")
      .select(col("__row.*"))
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "inputCol" -> getInputCol)
    if (isSet(priorityCol))
      SchemaChecks.requireCols(schema, "priorityCol" -> $(priorityCol))
    schema
  }
  override def copy(extra: ParamMap): IncrementalDeduplicator = {
    // attached per-run corpus survives copy (Pipeline/ParamMap paths)
    val c = defaultCopy[IncrementalDeduplicator](extra)
    c.corpusRaw = corpusRaw; c.corpusIdx = corpusIdx
    c
  }
}

object IncrementalDeduplicator
    extends graft.core.GraftReadable[IncrementalDeduplicator] {
  /** Distinct 128-bit fingerprint frame `(__fp, __fp2)` of a document
    * frame — the 16-bytes-per-doc state that persists between snapshots.
    * Write it out with the curated corpus; union each batch's survivor
    * index onto it. */
  def fingerprintIndex(df: DataFrame, inputCol: String): DataFrame = {
    val (fp, fp2) =
      DedupFunctions.fingerprintPair(DedupFunctions.canonical(col(inputCol)))
    df.select(fp.as("__fp"), fp2.as("__fp2")).distinct()
  }
}
