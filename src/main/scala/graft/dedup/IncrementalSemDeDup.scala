package graft.dedup

import graft.core._
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental (snapshot-delta) SEMANTIC near-duplicate removal — the
  * [[SemDeDup]] counterpart of the lexical incremental family
  * ([[IncrementalDeduplicator]] exact, [[IncrementalMinHashDeduplicator]]
  * MinHash). Until now the semantic dimension had no delta face: a
  * daily crawl batch had to re-run SemDeDup over corpus ∪ batch from
  * scratch — re-clustering and re-verifying the (unchanged) corpus
  * against itself on every snapshot. Here the corpus work persists:
  *
  *  - `fit(corpus)` trains the [[SemDeDup.Quantizer]] once on a bounded
  *    hash-ordered sample (the same arithmetic, extracted — flat below
  *    [[SemDeDup.TwoLevelAbove]] cells, √k coarse × sub above) and
  *    persists the centroids as a complex Param, so every future batch
  *    assigns against the SAME cell partition;
  *  - `model.indexCorpus(corpus)` emits the persistent embedding index
  *    `(__id, __v, __cell, __csim)` — ~(dim·8 + 20) bytes/doc, written
  *    once per corpus fold and reused by every batch (the
  *    `signatureIndex` pattern). Union each batch's survivor index onto
  *    it for the next snapshot;
  *  - `model.setCorpusIndex(idx).transform(batch)`: the batch assigns
  *    cells through the broadcast quantizer (one narrow pass), BOTH
  *    sides aggregate per cell through the bounded smallest-id
  *    collector ([[SemDeDup.BoundedCellAggregator]] — per-cell caps,
  *    observable `<uid>_dropped` / `<uid>_dropped_batch` metrics; a
  *    capped batch member passes UNCHECKED, so a saturated batch cap
  *    means possibly-missed duplicates, visible in the metric), and
  *    ONE cell-to-cell equi-join runs the exact-cosine verify inside
  *    the joined buffers. Each vector rides the shuffle AND
  *    deserializes once per cell — never per candidate pair (the
  *    round-16 grouped SemDeDup contract; the first formulation's
  *    row-to-buffer join re-deserialized every corpus member once per
  *    batch row and measured 153.8 s @100x against the grouped form's
  *    24.0 s). A batch document within `threshold` cosine of ANY corpus
  *    member drops — the corpus copy always survives, the incremental
  *    family's convention (the curated corpus is the keeper; the
  *    paper's centroid keep rule applies only to the within-batch
  *    pass);
  *  - survivors then near-dedup WITHIN the batch by a regular
  *    [[SemDeDup]] at the same threshold with the minId keep rule (the
  *    [[IncrementalMinHashDeduplicator]] shape). The fitted quantizer
  *    decides its cluster count: with one cell (`nClusters = 1`) the
  *    within-batch pass is exhaustive too, so the whole decision is
  *    exact pairwise cosine; with more cells it uses SemDeDup's auto k
  *    over the survivors.
  *
  * `nClusters = 1` is the exhaustive setting: every batch-vs-corpus
  * pair is compared, so the result is exact pairwise cosine dedup and
  * the driver gate replays it all-pairs in SQL (the `semdedup_exact`
  * pattern). The per-cell cap cannot silently break that claim: when
  * the quantizer is single-cell and `maxClusterSize` is left at its
  * default, the cap auto-raises to effectively unbounded (all members
  * sit in the one cell — bounding it would drop corpus members from
  * candidacy and pass capped batch members UNCHECKED, so exactness
  * would quietly depend on hand-sizing the cap; round-17 advice). An
  * EXPLICITLY set cap is always honored — overflow then shows in the
  * drop metrics, same as the multi-cell case. Null batch embeddings
  * are never candidates and always survive; null corpus embeddings
  * never enter the index ([[IncrementalSemDeDupModel.indexCorpus]]
  * filters them). Zero-norm cosines are NaN, which orders above every
  * number (Spark and the DuckDB oracle agree), so zero-norm pairs
  * count as duplicates — the [[SemDeDup]] convention.
  *
  * **Recall contract (cell-boundary misses).** With `nClusters > 1` a
  * batch document within `threshold` of a corpus document that the
  * quantizer assigned to a DIFFERENT cell is NOT compared and
  * therefore survives — inherent to the SemDeDup cell partition (the
  * batch [[SemDeDup]] has the same property; the paper accepts it as
  * the price of O(n·cellSize) pair work). For the snapshot-delta use
  * this miss COMPOUNDS across folds: each fold's survivors join the
  * index with their cell frozen under the shared quantizer, so a pair
  * straddling a cell boundary is never revisited by any later batch
  * either. Size `targetClusterSize` (recall grows with cell size) or
  * use `nClusters = 1` where exactness matters more than scale;
  * IncrementalSemDeDupSuite pins the miss behavior with a planted
  * cross-cell near pair.
  */
class IncrementalSemDeDup(override val uid: String)
    extends Estimator[IncrementalSemDeDupModel] with HasInputCol
    with SemDeDup.AutoKParams with GraftWritable {
  def this() = this(Identifiable.randomUID("IncrementalSemDeDup"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val threshold = new DoubleParam(this, "threshold",
    "cosine cutoff", ParamValidators.inRange(-1.0, 1.0))
  setDefault(threshold -> 0.95)
  def setThreshold(v: Double): this.type = set(threshold, v)

  override def fit(ds: Dataset[_]): IncrementalSemDeDupModel = {
    transformSchema(ds.schema)
    val df = ds.toDF()
    val narrow = SemDeDup.narrow(df, $(idCol), getInputCol)
    // bounded hash-ordered sample — the SemDeDup draw, deterministic
    // for a given corpus + seed
    val k = clusterCount(narrow)
    val sample = graft.sim.IVF.sample(narrow, sampleCap(k))
    require(sample.nonEmpty,
      s"IncrementalSemDeDup: no non-null '$getInputCol' rows to fit on")
    val m = new IncrementalSemDeDupModel(uid + "_model")
      .setInputCol(getInputCol).setIdCol($(idCol))
      .setThreshold($(threshold))
    m.set(m.quantizer,
      SemDeDup.fitQuantizer(sample, k, $(maxIter), $(seed)))
    m.setParent(this)
  }

  override def transformSchema(schema: StructType): StructType = {
    // fail at fit-construction time with the role and column named
    // (the FingerprintDeduplicatorBase pattern, swept family-wide
    // round 18) — a forgotten setIdCol used to surface as a raw
    // unresolved-column error mid-fit
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "inputCol" -> getInputCol)
    schema
  }
  override def copy(extra: ParamMap): IncrementalSemDeDup =
    defaultCopy(extra)
}
object IncrementalSemDeDup
    extends GraftReadable[IncrementalSemDeDup]

/** Fitted [[IncrementalSemDeDup]]: the persisted quantizer plus the
  * per-snapshot corpus-index machinery. `transform` drops batch rows
  * within `threshold` cosine of a corpus member in their cell, then
  * near-dedups the survivors against each other (minId keep rule). That
  * within-batch pass is exhaustive (`nClusters = 1`) exactly when the
  * quantizer has one cell ([[SemDeDup.cells]]), and auto-k otherwise,
  * so the single-cell setting is exact pairwise end to end. */
class IncrementalSemDeDupModel(override val uid: String)
    extends Model[IncrementalSemDeDupModel] with HasInputCol
    with SemDeDup.CellCapParams with GraftWritable {
  def this() = this(Identifiable.randomUID("IncrementalSemDeDupModel"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val threshold = new DoubleParam(this, "threshold",
    "cosine cutoff", ParamValidators.inRange(-1.0, 1.0))
  setDefault(threshold -> 0.95)
  def setThreshold(v: Double): this.type = set(threshold, v)
  /** The fitted quantizer — a complex Param, so save/load round-trips
    * the cell partition every future batch must agree on. */
  final val quantizer = new Param[SemDeDup.Quantizer](this, "quantizer",
    "fitted (possibly two-level) spherical quantizer")

  /** The persistent corpus embedding index `(__id, __v, __cell,
    * __csim)` under THIS model's cell partition — write it once per
    * corpus fold; union each batch's survivor index onto it for the
    * next snapshot. Null embeddings carry no vector to compare and
    * never enter the index. */
  def indexCorpus(corpus: DataFrame): DataFrame = {
    require(isSet(quantizer), "model has no quantizer (not fitted?)")
    SemDeDup.assignCells($(quantizer),
      SemDeDup.narrow(corpus, $(idCol), getInputCol))
  }

  private var corpusIndex: DataFrame = _
  def setCorpusIndex(df: DataFrame): this.type = { corpusIndex = df; this }

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    require(isSet(quantizer), "model has no quantizer (not fitted?)")
    require(corpusIndex != null, "setCorpusIndex first (indexCorpus)")
    val df = ds.toDF()
    val id = col($(idCol))
    val q = $(quantizer)
    // BOTH sides aggregate per cell through the bounded smallest-id
    // collector (cap + observable drop metric — the SemDeDup contract),
    // then ONE cell-to-cell equi-join (one row per populated cell on
    // each side) runs the verify inside the joined buffers: every
    // vector is deserialized ONCE PER CELL. The first formulation
    // joined each batch ROW onto its cell's whole corpus buffer, which
    // re-deserialized every corpus member once per batch row — O(pairs)
    // boxing that the 100x sweep measured at 153.8 s on a table the
    // plain SemDeDup handles in 16.8 s (the round-16 payload-per-pair
    // trap in a milder costume); grouped both sides: 24.0 s, alpha 0.46.
    val cap = cellCap(q)
    val cells = SemDeDup.boundedCells(
      corpusIndex.select(col("__id"), col("__v"), col("__cell"), col("__csim")),
      cap, s"${uid}_dropped", "__es")
    val batchCells = SemDeDup.boundedCells(
      SemDeDup.assignCells(q, SemDeDup.narrow(df, $(idCol), getInputCol)),
      cap, s"${uid}_dropped_batch", "__bs")
    val thr = $(threshold)
    val dupUdf = udf { (bs: Seq[org.apache.spark.sql.Row],
        es: Seq[org.apache.spark.sql.Row]) =>
      val bIds = new Array[Long](bs.length)
      val bVs = new Array[Array[Double]](bs.length)
      var i = 0
      while (i < bs.length) {
        bIds(i) = bs(i).getLong(0)
        bVs(i) = bs(i).getSeq[Double](1).toArray
        i += 1
      }
      val cVs = new Array[Array[Double]](es.length)
      i = 0
      while (i < es.length) { cVs(i) = es(i).getSeq[Double](1).toArray; i += 1 }
      val dups = scala.collection.mutable.ArrayBuffer.empty[Long]
      i = 0
      while (i < bIds.length) {
        val a = bVs(i)
        var hit = false
        var j = 0
        while (j < cVs.length && !hit) {
          hit = SemDeDup.cosineDup(a, cVs(j), thr)
          j += 1
        }
        if (hit) dups += bIds(i)
        i += 1
      }
      dups.toSeq
    }
    val dropIds = batchCells.join(cells, Seq("__cell"))
      .select(explode(dupUdf(col("__bs"), col("__es"))).as("__drop_id"))
      .distinct()
    val survivors = df.join(dropIds,
      id.cast("long") === col("__drop_id"), "left_anti")
    // materialized survivor boundary (the IncrementalMinHashDeduplicator
    // pattern): the within-batch SemDeDup references its input TWICE —
    // its narrow (id, vector) checkpoint AND the final anti-join that
    // returns the full surviving rows — and without the barrier the
    // second reference replans and RE-EXECUTES the whole corpus-check
    // pipeline above (cell aggregations + verify UDF; 115-op plan
    // measured at sf0.1, plans/r20/semdedup_incremental_before.txt).
    // Survivors are O(batch) rows — the snapshot delta a pipeline
    // holds by definition. Trade: locally-checkpointed blocks are not
    // recomputable, so an executor loss fails the batch job instead of
    // recomputing — a snapshot batch simply re-runs; a deployment that
    // cannot re-run should persist to reliable storage instead.
    val surv = survivors.localCheckpoint()
    // the within-batch pass is exhaustive exactly when the fitted
    // quantizer is (one cell), and auto-k otherwise
    val within = new SemDeDup().setInputCol(getInputCol)
      .setIdCol($(idCol)).setThreshold(thr).setKeepRule("minId")
      .setNClusters(if (SemDeDup.cells(q) == 1) 1 else 0)
    // propagate an explicit cap; leave SemDeDup's own default (and
    // its single-cell auto-raise) in charge otherwise
    if (isSet(maxClusterSize)) within.setMaxClusterSize($(maxClusterSize))
    within.transform(surv)
  }

  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "inputCol" -> getInputCol)
    // the internal __id/__v/__cell/__csim names live only in derived
    // select-projections; the one bare-name reference against the
    // input frame is the survivor anti-join's __drop_id
    SchemaChecks.requireAbsent(schema, "__drop_id")
    schema
  }
  override def copy(extra: ParamMap): IncrementalSemDeDupModel = {
    val c = defaultCopy[IncrementalSemDeDupModel](extra).setParent(parent)
    c.setCorpusIndex(corpusIndex)
    c
  }
}
object IncrementalSemDeDupModel
    extends GraftReadable[IncrementalSemDeDupModel]
