package graft.reco

import graft.core._
import org.apache.spark.ml.{Estimator, Model, Transformer}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-name params shared by the recommendation operators. */
trait HasRecoCols extends Params {
  final val userCol = new Param[String](this, "userCol", "user id column")
  setDefault(userCol -> "user")
  def getUserCol: String = $(userCol)
  def setUserCol(v: String): this.type = set(userCol, v)
  final val itemCol = new Param[String](this, "itemCol", "item id column")
  setDefault(itemCol -> "item")
  def getItemCol: String = $(itemCol)
  def setItemCol(v: String): this.type = set(itemCol, v)
  final val ratingCol = new Param[String](this, "ratingCol", "rating column")
  setDefault(ratingCol -> "rating")
  def getRatingCol: String = $(ratingCol)
  def setRatingCol(v: String): this.type = set(ratingCol, v)
}

/** Smart Adaptive Recommendations (ref: recommendation/SAR.scala:36-207):
  * time-decayed user–item affinities + item–item co-occurrence similarity
  * (jaccard / lift / cooccurrence), scored as affinity-weighted similarity
  * sums.
  *
  * Spark-first plan (vs the reference's driver-side breeze CSC matrices,
  * SAR.scala:152-207):
  *  - affinities: one `groupBy(user,item).agg(sum)` — map-side combinable.
  *  - co-occurrence: distinct (user,item) self-joined on user. The join is
  *    per-user quadratic, so `maxUserItems` caps each user's distinct item
  *    set (most-affine first) before the join — the standard skew guard for
  *    power users; catalogs where this matters are implicit-feedback logs.
  *  - similarity table stays a DataFrame; scoring broadcasts it (item
  *    catalogs are ≪ interaction logs) and reduces with one
  *    `groupBy(user, item).agg(sum)` + per-user top-k window.
  *
  * Determinism: time decay uses whole-day exponents of 0.5 (exact binary
  * scaling) and affinity sums run over `DECIMAL(30,10)` so partial-sum
  * order cannot change the result.
  */
class SAR(override val uid: String) extends Estimator[SARModel]
    with HasRecoCols with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("SAR"))

  final val timeCol = new Param[String](this, "timeCol",
    "timestamp column for decay; unset = no decay")
  def setTimeCol(v: String): this.type = set(timeCol, v)
  final val decayHalfLifeDays = new IntParam(this, "decayHalfLifeDays",
    "affinity halves every this many days", ParamValidators.gt(0))
  setDefault(decayHalfLifeDays -> 30)
  def setDecayHalfLifeDays(v: Int): this.type = set(decayHalfLifeDays, v)
  final val similarityFunction = new Param[String](this, "similarityFunction",
    "jaccard | lift | cooccurrence",
    ParamValidators.inArray(Array("jaccard", "lift", "cooccurrence")))
  setDefault(similarityFunction -> "jaccard")
  def setSimilarityFunction(v: String): this.type = set(similarityFunction, v)
  final val maxUserItems = new IntParam(this, "maxUserItems",
    "cap on distinct items per user entering the co-occurrence join " +
    "(skew guard)", ParamValidators.gt(0))
  setDefault(maxUserItems -> 1000)

  /** Time-decayed user–item affinities:
    * sum(rating · 0.5^((maxDay − day)/halfLife rounded to whole days)). */
  def calculateUserItemAffinities(df: DataFrame): DataFrame = {
    val u = col(getUserCol); val i = col(getItemCol)
    val decayed = if (isSet(timeCol)) {
      // whole days since epoch; integer arithmetic throughout (nanos-as-long
      // columns exceed double precision, so no double division on the raw
      // value)
      val day = df.schema($(timeCol)).dataType match {
        case LongType => // epoch nanos (spark.sql.legacy.parquet.nanosAsLong)
          expr(s"`${$(timeCol)}` DIV ${86400L * 1000000000L}")
        case _ => floor(unix_timestamp(col($(timeCol))) / 86400L)
      }
      // reference day: one tiny driver-side agg (a global window would
      // funnel every row through a single partition)
      val maxDay = df.agg(max(day)).head().getLong(0)
      // whole-day 0.5-exponent => exact power-of-two scaling of the rating
      col(getRatingCol) * pow(lit(0.5),
        floor((lit(maxDay) - day) / $(decayHalfLifeDays)).cast("double"))
    } else col(getRatingCol)
    df.groupBy(u.as("user"), i.as("item"))
      .agg(sum(decayed.cast(DecimalType(30, 10))).cast("double").as("affinity"))
  }

  /** Item–item similarity from co-occurrence of distinct (user,item) pairs. */
  def calculateItemItemSimilarity(df: DataFrame): DataFrame = {
    // materialized with a lineage barrier, not a lazy persist: the
    // needCap count, occ and BOTH sides of the co-occurrence join read
    // this frame — persisted it was still replanned (and the needCap
    // decision re-ran the distinct over the raw log); checkpointed,
    // every reference is a leaf scan of the narrow (user, item) blocks.
    // Residency is the distinct pair set, same as the former persist
    // (ContextCleaner reclaims the blocks on GC). Non-recomputable on
    // executor loss — re-fit to recover; model.write persists durably.
    val pairs = df.select(col(getUserCol).as("user"), col(getItemCol).as("item"))
      .distinct()
      .localCheckpoint()
    // skew guard: cap per-user item set (deterministic by item order) —
    // skipped entirely when the catalog can't exceed the cap (saves the
    // window's extra shuffle+sort; one tiny count job decides, reading
    // the checkpointed blocks, not the raw log)
    val needCap = pairs.select("item").distinct().count() > $(maxUserItems)
    val w = Window.partitionBy("user").orderBy("item")
    val capped = if (needCap)
      pairs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= $(maxUserItems)).drop("__rn")
        .localCheckpoint()
    else pairs
    val occ = capped.groupBy("item").agg(count("*").as("occ"))
    val co = capped.as("a")
      .join(capped.as("b"), Seq("user"))
      .groupBy(col("a.item").as("i1"), col("b.item").as("i2"))
      .agg(count("*").as("cooc"))
    val joined = co
      .join(broadcast(occ.select(col("item").as("i1"), col("occ").as("occ1"))), "i1")
      .join(broadcast(occ.select(col("item").as("i2"), col("occ").as("occ2"))), "i2")
    val sim = $(similarityFunction) match {
      case "jaccard" =>
        col("cooc").cast("double") / (col("occ1") + col("occ2") - col("cooc"))
      case "lift" => col("cooc").cast("double") / (col("occ1") * col("occ2"))
      case "cooccurrence" => col("cooc").cast("double")
    }
    joined.select(col("i1"), col("i2"), sim.as("similarity"))
  }

  override def fit(ds: Dataset[_]): SARModel = {
    val df = ds.toDF()
    val m = new SARModel(uid + "_model")
    // both frames are read multiple times by scoring (affinity join +
    // seen-filter, and the similarity count+broadcast) — materialize
    // them with a lineage BARRIER, not a lazy persist: persisted frames
    // keep their full upstream plan, and every scoring reference
    // replanned the whole fit pipeline into its own tree (measured r20
    // at sf0.1: ranking_metrics 239-op / 18-scan plan, sar_recommend
    // 220 / 17 — plans/r20/). After the checkpoint each reference is a
    // leaf scan of the materialized blocks. Residency is the same
    // O(users·items + items²-capped) the persist already held. Trade:
    // checkpointed blocks are not recomputable — an executor loss fails
    // the fit/scoring job instead of recomputing (re-fit to recover);
    // model.write persists both frames durably for deployments.
    m.affinities = calculateUserItemAffinities(df).localCheckpoint()
    m.itemSimilarity = calculateItemItemSimilarity(df).localCheckpoint()
    copyValues(m)
    m.set(m.userCol, getUserCol).set(m.itemCol, getItemCol)
    m
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(Seq(StructField("user", LongType),
      StructField("item", StringType), StructField("score", DoubleType)))
  override def copy(extra: ParamMap): SAR = defaultCopy(extra)
}
object SAR extends graft.core.GraftReadable[SAR]


/** Fitted SAR model: score(u, j) = Σ_i affinity(u,i) · sim(i,j). */
class SARModel(override val uid: String) extends Model[SARModel]
    with HasRecoCols with org.apache.spark.ml.util.MLWritable {
  def this() = this(Identifiable.randomUID("SARModel"))

  var affinities: DataFrame = _      // (user, item, affinity)
  var itemSimilarity: DataFrame = _  // (i1, i2, similarity)

  /** Cap on similar items kept per item before the similarity table is
    * broadcast (0 = keep all). The DEFAULT is 0 — full-matrix scoring,
    * matching the reference SAR's semantics (reference
    * core/src/main/scala/com/microsoft/ml/spark/recommendation/SARModel.scala
    * scores against the whole similarity matrix). At catalog scale the
    * dense item-item table is O(items²) and scoring only ever needs the
    * strongest neighbors, so when the full table exceeds a broadcast-safe
    * size we log a loud warning pointing at this param; a top-N cut
    * (similarity desc, ties by item id) bounds the broadcast at N·items
    * rows. Opt in with setSimilarityTopN — silently truncating by default
    * would change results vs the reference. */
  final val similarityTopN = new IntParam(this, "similarityTopN",
    "top similar items kept per item before broadcast (0 = all, default)",
    ParamValidators.gtEq(0))
  setDefault(similarityTopN -> 0)
  def setSimilarityTopN(v: Int): this.type = set(similarityTopN, v)

  /** Rows above which an uncapped similarity broadcast draws a warning
    * (~5M rows ≈ hundreds of MB serialized — the edge of sane broadcast). */
  private val broadcastWarnRows = 5000000L

  private def sparsifiedSimilarity: DataFrame =
    if ($(similarityTopN) <= 0) {
      val n = itemSimilarity.limit((broadcastWarnRows + 1).toInt).count()
      if (n > broadcastWarnRows)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"item-item similarity table exceeds $broadcastWarnRows rows and " +
            "similarityTopN=0 (keep all): the broadcast may overwhelm the " +
            "driver. Set similarityTopN (e.g. 100) to bound it.")
      itemSimilarity
    }
    else {
      val w = Window.partitionBy("i1")
        .orderBy(col("similarity").desc, col("i2"))
      itemSimilarity.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= $(similarityTopN)).drop("__rn")
    }

  override def write: org.apache.spark.ml.util.MLWriter =
    new org.apache.spark.ml.util.MLWriter {
      override protected def saveImpl(path: String): Unit = {
        org.apache.spark.ml.graftshims.PipelineMetadataShim
          .save(SARModel.this, path, sparkSession)
        graft.core.ModelIO.writeText(sparkSession, s"$path/params.json",
          graft.core.ModelIO.paramsJson(SARModel.this))
        affinities.write.mode("overwrite").parquet(s"$path/affinities")
        itemSimilarity.write.mode("overwrite").parquet(s"$path/itemSimilarity")
      }
    }

  /** (user, item, score) for every item reachable from a user's
    * affinities: affinity × similarity, decimal-summed for partial-order
    * determinism. */
  private def scores: DataFrame = affinities
    .join(broadcast(sparsifiedSimilarity), affinities("item") === itemSimilarity("i1"))
    .groupBy(col("user"), col("i2").as("item"))
    .agg(sum((col("affinity") * col("similarity")).cast(DecimalType(30, 10)))
      .cast("double").as("score"))

  /** Top-k recommendations per user: (user, item, score, rank). Scores are
    * decimal-summed for partial-order determinism; ties break on item. */
  def recommendForAllUsers(k: Int, removeSeen: Boolean = true): DataFrame = {
    val unseen = if (removeSeen) {
      scores.join(affinities.select(col("user"), col("item"), lit(1).as("__seen")),
          Seq("user", "item"), "left")
        .filter(col("__seen").isNull).drop("__seen")
    } else scores
    val w = Window.partitionBy("user").orderBy(col("score").desc, col("item"))
    unseen.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  override def transform(ds: Dataset[_]): DataFrame = {
    // score the supplied (user, item) pairs
    val df = ds.toDF().select(col(getUserCol).as("user"), col(getItemCol).as("item"))
    df.join(scores, Seq("user", "item"), "left")
      .na.fill(0.0, Seq("score"))
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(Seq(StructField("user", LongType),
      StructField("item", StringType), StructField("score", DoubleType)))
  override def copy(extra: ParamMap): SARModel = {
    val c = new SARModel(uid)
    c.affinities = affinities; c.itemSimilarity = itemSimilarity
    copyValues(c, extra)
  }
}

object SARModel extends org.apache.spark.ml.util.MLReadable[SARModel] {
  override def read: org.apache.spark.ml.util.MLReader[SARModel] =
    new org.apache.spark.ml.util.MLReader[SARModel] {
      override def load(path: String): SARModel = {
        val m = new SARModel()
        graft.core.ModelIO.setParamsFromJson(m,
          graft.core.ModelIO.readText(sparkSession, s"$path/params.json"))
        m.affinities = sparkSession.read.parquet(s"$path/affinities")
        m.itemSimilarity = sparkSession.read.parquet(s"$path/itemSimilarity")
        m
      }
    }
}
