package graft.sim

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

/** k-NN graph construction: for EVERY corpus vector, its top-k cosine
  * neighbors — the self-similarity join behind near-dup mining,
  * SemDeDup-style cluster seeding, diversity sampling, and graph-based
  * label propagation. Distinct from [[NearestNeighbors]] /
  * [[IVFNearestNeighbors]], whose query side is a SMALL set broadcast
  * against the corpus: here query set == corpus, so nothing may be
  * broadcast or collected.
  *
  * Scale shape (default, IVF mode): a coarse quantizer trains
  * driver-side on a bounded hash-ordered sample (the [[IVF]] recipe);
  * each vector lands in its home cell once (index side) and is exploded
  * to its `nProbe` closest cells (query side); the two sides meet in a
  * SHUFFLE hash join keyed by cell — pair volume is
  * Σ_cells |cell| · |probes into cell| ≈ n²·nProbe/nLists, tuned by
  * nLists ∝ √(n·nProbe) exactly as in FAISS practice, and each pair is
  * scored once because a home cell is unique. Per-node top-k then runs
  * through the map-side-combining [[TopKAggregator]], so only k edges
  * per node reach the final exchange. A (query, candidate) pair can
  * never appear twice — no dedup pass.
  *
  * `bruteForce` mode scores all n² pairs through the same join keyed by
  * a single cell with the corpus side broadcast — the exact baseline
  * and oracle anchor, subject to the same broadcast ceiling as
  * [[NearestNeighbors]]; it is NOT the scale path.
  *
  * With `nProbe == nLists` the probe side visits every cell and the
  * graph equals brute force exactly (the `knn_ivf_recall` gate
  * pattern); the driver gate pins that equality.
  */
class KNNGraph(override val uid: String)
    extends Transformer with HasInputCol with QuantizerParams
    with GraftWritable {
  def this() = this(Identifiable.randomUID("KNNGraph"))

  final val idCol = new Param[String](this, "idCol", "corpus id column")
  setDefault(idCol -> "id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val k = new IntParam(this, "k", "neighbors per node",
    ParamValidators.gt(0))
  setDefault(k -> 10)
  def setK(v: Int): this.type = set(k, v)
  final val bruteForce = new BooleanParam(this, "bruteForce",
    "score all pairs (exact; broadcast ceiling) instead of IVF cells")
  setDefault(bruteForce -> false)
  def setBruteForce(v: Boolean): this.type = set(bruteForce, v)
  final val nLists = new IntParam(this, "nLists", "k-means cells",
    ParamValidators.gt(0))
  setDefault(nLists -> 64)
  def setNLists(v: Int): this.type = set(nLists, v)
  final val nProbe = new IntParam(this, "nProbe",
    "cells each node's query side visits", ParamValidators.gt(0))
  setDefault(nProbe -> 8)
  def setNProbe(v: Int): this.type = set(nProbe, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val spark = df.sparkSession
    val base = df.select(col($(idCol)).cast("long").as("id"),
      col(getInputCol).as("__v"))
    val sim = SimilarityFunctions.cosine(col("__qv"), col("__cv"))
    val topk = udaf(new TopKAggregator($(k)), Encoders.product[Scored])
    val (corpus, probes) =
      if ($(bruteForce)) {
        (base.select(col("id"), col("__v").as("__cv"), lit(0).as("__cell")),
          broadcast(base.select(col("id").as("query_id"),
            col("__v").as("__qv"), lit(0).as("__cell"))))
      } else {
        // quantizer: bounded hash-ordered sample + local spherical Lloyd
        // (one TakeOrdered job — the IVFNearestNeighbors.fit recipe)
        val sample = IVF.sample(base.select(col("id").as("__id"),
          col("__v").cast(ArrayType(DoubleType)).as("__v")), $(trainSample))
        val ctr = spark.sparkContext
          .broadcast(IVF.lloyd(sample, $(nLists), $(maxIter), $(seed)))
        val np = $(nProbe)
        // home cell = first probe (both break ties to the lowest index)
        val homeUdf = udf((v: Seq[Double]) =>
          IVF.nearest(ctr.value, IVF.normalize(v.toArray))._1)
        val probesUdf = udf((v: Seq[Double]) =>
          IVF.probeOrder(ctr.value, IVF.normalize(v.toArray), np))
        val vec = col("__v").cast(ArrayType(DoubleType))
        (base.select(col("id"), col("__v").as("__cv"),
          homeUdf(vec).as("__cell")),
          base.select(col("id").as("query_id"), col("__v").as("__qv"),
            explode(probesUdf(vec)).as("__cell")))
      }
    corpus.join(probes, Seq("__cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), sim.as("score"), col("id"))
      .groupBy("query_id")
      .agg(topk(col("score"), col("id")).as("neighbors"))
  }

  override def transformSchema(schema: StructType): StructType =
    IVFNearestNeighborsModel.outputSchema
  override def copy(extra: ParamMap): KNNGraph = defaultCopy(extra)
}
object KNNGraph extends GraftReadable[KNNGraph]
