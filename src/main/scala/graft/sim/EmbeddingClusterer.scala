package graft.sim

import graft.core._
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Topic clustering over an embedding column — the partition step of
  * cluster-balanced corpus curation (public recipes: SemDeDup's k-means
  * stage, Abbas et al. 2023; DataComp-LM's topic rebalancing, Li et al.
  * 2024): k-means the document embeddings, attach the cluster id, and
  * let downstream quotas ([[graft.text.GroupQuotaSampler]]) or reports
  * ([[graft.text.CorpusReport]] `groupByCol`) rebalance the mixture.
  * [[graft.dedup.SemDeDup]] embeds the same construction
  * privately as its candidate generator; this stage exposes the cluster
  * assignment itself as a first-class column.
  *
  * Scale shape (identical to the measured IVF / SemDeDup path):
  *  - fit: the quantizer trains DRIVER-SIDE on a bounded hash-ordered
  *    sample (one TakeOrderedAndProject job, `trainSample` caps the
  *    collect) via spherical k-means++ best-of-5 restarts
  *    ([[IVF.lloyd]] — embeddings cluster by DIRECTION, so scaling a
  *    vector never moves it across clusters);
  *  - transform: one narrow pass over the broadcast centroid matrix
  *    (argmin L2 on the unit sphere == argmax cosine), zero shuffle —
  *    at 100 TB the assignment rides the scan. Null embeddings (and
  *    embeddings with a null element) get a null cluster, the
  *    [[graft.nn.MLPScorer]] contract.
  *
  * Output: `cluster` (int) + `centroid_sim_q4` (floor(cos·1e4+0.5), the
  * hash-gate-safe scaled integer; cosine to the assigned centroid — the
  * signal SemDeDup's keep rule and prototypicality pruning read).
  */
class EmbeddingClusterer(override val uid: String)
    extends Estimator[EmbeddingClustererModel] with HasInputCol
    with QuantizerParams with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("EmbeddingClusterer"))

  final val idCol = new Param[String](this, "idCol", "document id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val k = new IntParam(this, "k", "cluster count",
    ParamValidators.gt(0))
  setDefault(k -> 64)
  def setK(v: Int): this.type = set(k, v)
  setDefault(maxIter -> 20)

  override def fit(ds: Dataset[_]): EmbeddingClustererModel = {
    val df = ds.toDF()
    // the shared bounded hash-ordered draw, over embeddings without a
    // null element (those get a null cluster at transform time)
    val sample = IVF.sample(df
      .select(col($(idCol)).cast("long").as("__id"),
        col(getInputCol).cast(ArrayType(DoubleType)).as("__v"))
      .where(!exists(col("__v"), x => x.isNull)), $(trainSample))
    require(sample.nonEmpty,
      s"EmbeddingClusterer: no non-null '${getInputCol}' vectors to fit on")
    val m = new EmbeddingClustererModel(uid + "_model")
    m.set(m.inputCol, getInputCol)
    m.centroids = IVF.lloyd(sample, $(k), $(maxIter), $(seed))
    copyValues(m)
    m
  }
  override def transformSchema(schema: StructType): StructType =
    EmbeddingClustererModel.withOutput(schema)
  override def copy(extra: ParamMap): EmbeddingClusterer = defaultCopy(extra)
}
object EmbeddingClusterer extends graft.core.GraftReadable[EmbeddingClusterer]

class EmbeddingClustererModel(override val uid: String)
    extends Model[EmbeddingClustererModel] with HasInputCol
    with org.apache.spark.ml.util.MLWritable {
  def this() = this(Identifiable.randomUID("EmbeddingClustererModel"))

  var centroids: Array[Array[Double]] = _

  override def write: org.apache.spark.ml.util.MLWriter =
    new org.apache.spark.ml.util.MLWriter {
      override protected def saveImpl(path: String): Unit = {
        org.apache.spark.ml.graftshims.PipelineMetadataShim
          .save(EmbeddingClustererModel.this, path, sparkSession)
        graft.core.ModelIO.writeText(sparkSession, s"$path/params.json",
          graft.core.ModelIO.paramsJson(EmbeddingClustererModel.this))
        graft.core.ModelIO.writeObject(sparkSession, s"$path/centroids.bin",
          centroids)
      }
    }

  override def transform(ds: Dataset[_]): DataFrame = {
    require(centroids != null && centroids.nonEmpty, "model has no centroids")
    val df = ds.toDF()
    transformSchema(df.schema)
    val ctr = df.sparkSession.sparkContext.broadcast(centroids)
    // narrow argmin pass; emits (cluster, cosine-to-centroid) in one go so
    // no second distance pass is ever needed
    val assignUdf = udf((v: Seq[java.lang.Double]) => {
      if (v == null || v.exists(_ eq null)) null
      else {
        val (best, bestD) =
          IVF.nearest(ctr.value, IVF.normalize(v.map(_.doubleValue).toArray))
        // unit sphere: cos = 1 - d²/2 (centroids are renormalized means)
        val cos = 1.0 - bestD / 2.0
        (best, math.floor(cos * 10000.0 + 0.5).toLong)
      }
    })
    df.withColumn("__ec", assignUdf(col(getInputCol).cast(ArrayType(DoubleType))))
      .withColumn("cluster", col("__ec._1"))
      .withColumn("centroid_sim_q4", col("__ec._2"))
      .drop("__ec")
  }

  override def transformSchema(schema: StructType): StructType =
    EmbeddingClustererModel.withOutput(schema)
  override def copy(extra: ParamMap): EmbeddingClustererModel = {
    val c = new EmbeddingClustererModel(uid)
    c.centroids = centroids
    copyValues(c, extra)
  }
}

object EmbeddingClustererModel
    extends org.apache.spark.ml.util.MLReadable[EmbeddingClustererModel] {
  override def read: org.apache.spark.ml.util.MLReader[EmbeddingClustererModel] =
    new org.apache.spark.ml.util.MLReader[EmbeddingClustererModel] {
      override def load(path: String): EmbeddingClustererModel = {
        val m = new EmbeddingClustererModel()
        graft.core.ModelIO.setParamsFromJson(m,
          graft.core.ModelIO.readText(sparkSession, s"$path/params.json"))
        m.centroids = graft.core.ModelIO
          .readObject[Array[Array[Double]]](sparkSession, s"$path/centroids.bin")
        m
      }
    }

  private[sim] def withOutput(schema: StructType): StructType = {
    Seq("cluster", "centroid_sim_q4").foreach(c =>
      require(!schema.fieldNames.contains(c),
        s"EmbeddingClusterer appends '$c' but the input already has it"))
    StructType(schema ++ Seq(
      StructField("cluster", IntegerType),
      StructField("centroid_sim_q4", LongType)))
  }
}
