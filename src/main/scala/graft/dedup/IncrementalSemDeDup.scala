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
  *    [[SemDeDup]] at the same threshold (`dedupWithinBatch`,
  *    default on — the [[IncrementalMinHashDeduplicator]] shape).
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
    with GraftWritable {
  def this() = this(Identifiable.randomUID("IncrementalSemDeDup"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val threshold = new DoubleParam(this, "threshold",
    "cosine cutoff", ParamValidators.inRange(-1.0, 1.0))
  setDefault(threshold -> 0.95)
  def setThreshold(v: Double): this.type = set(threshold, v)
  final val nClusters = new IntParam(this, "nClusters",
    "k-means cluster count (1 = exhaustive exact pairwise; 0 = auto — " +
      "ceil(corpusSize / targetClusterSize), capped at maxAutoClusters)",
    ParamValidators.gtEq(0))
  setDefault(nClusters -> 0)
  def setNClusters(v: Int): this.type = set(nClusters, v)
  final val targetClusterSize = new IntParam(this, "targetClusterSize",
    "auto mode: intended average cluster population",
    ParamValidators.gt(1))
  setDefault(targetClusterSize -> 256)
  def setTargetClusterSize(v: Int): this.type = set(targetClusterSize, v)
  final val corpusSizeHint = new LongParam(this, "corpusSizeHint",
    "auto mode: approximate corpus row count (0 = count it)",
    ParamValidators.gtEq(0))
  setDefault(corpusSizeHint -> 0L)
  def setCorpusSizeHint(v: Long): this.type = set(corpusSizeHint, v)
  final val maxAutoClusters = new IntParam(this, "maxAutoClusters",
    "auto mode cap on k", ParamValidators.gt(0))
  setDefault(maxAutoClusters -> 4096)
  def setMaxAutoClusters(v: Int): this.type = set(maxAutoClusters, v)
  final val seed = new LongParam(this, "seed", "k-means seed")
  setDefault(seed -> 42L)
  def setSeed(v: Long): this.type = set(seed, v)
  final val maxIter = new IntParam(this, "maxIter",
    "k-means iteration cap", ParamValidators.gt(0))
  setDefault(maxIter -> 10)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  final val trainSample = new IntParam(this, "trainSample",
    "max vectors sampled for quantizer training", ParamValidators.gt(0))
  setDefault(trainSample -> 65536)
  def setTrainSample(v: Int): this.type = set(trainSample, v)

  override def fit(ds: Dataset[_]): IncrementalSemDeDupModel = {
    transformSchema(ds.schema)
    val df = ds.toDF()
    val narrow = df.select(
      col($(idCol)).cast("long").as("__id"),
      col(getInputCol).cast(ArrayType(DoubleType)).as("__v"))
    def autoK(n: Long): Int =
      math.max(1, math.min($(maxAutoClusters).toLong,
        (n + $(targetClusterSize) - 1) / $(targetClusterSize))).toInt
    val k =
      if ($(nClusters) > 0) $(nClusters)
      else autoK(if ($(corpusSizeHint) > 0L) $(corpusSizeHint)
        else narrow.count())
    val sampleCap =
      if ($(nClusters) > 0) $(trainSample)
      else math.min($(trainSample), math.max(4096, 64 * k))
    // bounded hash-ordered sample — the SemDeDup draw, deterministic
    // for a given corpus + seed
    val sample: Array[Array[Double]] = narrow
      .where(col("__v").isNotNull)
      .orderBy(xxhash64(col("__id")))
      .limit(sampleCap)
      .collect()
      .map(r => graft.sim.IVF.normalize(r.getSeq[Double](1).toArray))
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
  * per-snapshot corpus-index machinery. */
class IncrementalSemDeDupModel(override val uid: String)
    extends Model[IncrementalSemDeDupModel] with HasInputCol
    with GraftWritable {
  def this() = this(Identifiable.randomUID("IncrementalSemDeDupModel"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val threshold = new DoubleParam(this, "threshold",
    "cosine cutoff", ParamValidators.inRange(-1.0, 1.0))
  setDefault(threshold -> 0.95)
  def setThreshold(v: Double): this.type = set(threshold, v)
  final val maxClusterSize = new IntParam(this, "maxClusterSize",
    "per-cell corpus candidate cap (skew guard; overflow counts in the " +
      "<uid>_dropped observation)", ParamValidators.gt(1))
  setDefault(maxClusterSize -> 2048)
  def setMaxClusterSize(v: Int): this.type = set(maxClusterSize, v)
  final val dedupWithinBatch = new BooleanParam(this, "dedupWithinBatch",
    "after the corpus check, near-dedup the surviving batch against " +
      "itself with a regular SemDeDup at the same threshold (the " +
      "IncrementalMinHashDeduplicator shape)")
  setDefault(dedupWithinBatch -> true)
  def setDedupWithinBatch(v: Boolean): this.type = set(dedupWithinBatch, v)
  final val withinBatchClusters = new IntParam(this, "withinBatchClusters",
    "nClusters for the within-batch SemDeDup pass (0 = auto; 1 = " +
      "exhaustive — the SQL-replayable setting)", ParamValidators.gtEq(0))
  setDefault(withinBatchClusters -> 0)
  def setWithinBatchClusters(v: Int): this.type = set(withinBatchClusters, v)

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
    val bc = corpus.sparkSession.sparkContext.broadcast($(quantizer))
    val assignUdf = udf((v: Seq[Double]) => SemDeDup.assign(bc.value, v))
    corpus
      .select(col($(idCol)).cast("long").as("__id"),
        col(getInputCol).cast(ArrayType(DoubleType)).as("__v"))
      .where(col("__v").isNotNull)
      .select(col("__id"), col("__v"), assignUdf(col("__v")).as("__a"))
      .select(col("__id"), col("__v"),
        col("__a._1").as("__cell"), col("__a._2").as("__csim"))
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
    // single-cell quantizer + default cap: auto-raise so the exhaustive
    // setting stays exact (see the estimator scaladoc; an explicit cap
    // is honored — SemDeDupSuite pins that contract). Int.MaxValue / 4
    // keeps the aggregator's 2·max compaction trigger overflow-free.
    val effCap =
      if (q.coarse.length == 1 && q.subs(0).length == 1 &&
          !isSet(maxClusterSize)) Int.MaxValue / 4
      else $(maxClusterSize)
    val bc = df.sparkSession.sparkContext.broadcast(q)
    val assignUdf = udf((v: Seq[Double]) => SemDeDup.assign(bc.value, v))
    val batch = df
      .select(id.cast("long").as("__id"),
        col(getInputCol).cast(ArrayType(DoubleType)).as("__v"))
      .where(col("__v").isNotNull)
      .select(col("__id"), col("__v"), assignUdf(col("__v"))("_1")
        .as("__cell"), lit(0.0).as("__csim"))
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
    val bounded = udaf(
      new SemDeDup.BoundedCellAggregator(effCap),
      org.apache.spark.sql.Encoders.product[SemDeDup.CellEntry])
    val cells = corpusIndex
      .select(col("__id"), col("__v"), col("__cell"), col("__csim"))
      .groupBy(col("__cell"))
      .agg(bounded(col("__id"), col("__v"), col("__csim")).as("__b"))
      .observe(s"${uid}_dropped",
        sum(col("__b.dropped")).as("dropped_candidates"))
      .select(col("__cell"), col("__b.entries").as("__es"))
    val batchCells = batch
      .groupBy(col("__cell"))
      .agg(bounded(col("__id"), col("__v"), col("__csim")).as("__b"))
      .observe(s"${uid}_dropped_batch",
        sum(col("__b.dropped")).as("dropped_candidates"))
      .select(col("__cell"), col("__b.entries").as("__bs"))
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
    if (!$(dedupWithinBatch)) survivors
    else {
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
      val within = new SemDeDup().setInputCol(getInputCol)
        .setIdCol($(idCol)).setThreshold(thr).setKeepRule("minId")
        .setNClusters($(withinBatchClusters))
      // propagate an explicit cap; leave SemDeDup's own default (and
      // its single-cell auto-raise) in charge otherwise
      if (isSet(maxClusterSize)) within.setMaxClusterSize($(maxClusterSize))
      within.transform(surv)
    }
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
