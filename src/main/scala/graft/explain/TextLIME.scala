package graft.explain

import graft.core._
import graft.text.Words
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text LIME (ref: explainers/TextLIME.scala): whitespace-tokenize each
  * document, sample random token-drop masks, score the masked texts with
  * the black box in one distributed pass, fit a per-document linear
  * surrogate; coefficients rank token importance. Same explode → score →
  * groupByKey shape as the other explainers.
  */
class TextLIME(override val uid: String) extends Transformer with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("TextLIME"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val textCol = new Param[String](this, "textCol", "text column")
  setDefault(textCol -> "text")
  def setTextCol(v: String): this.type = set(textCol, v)
  final val scoreCol = new Param[String](this, "scoreCol", "model output col")
  setDefault(scoreCol -> "prediction")
  def setScoreCol(v: String): this.type = set(scoreCol, v)
  final val numSamples = new IntParam(this, "numSamples", "masks per doc")
  setDefault(numSamples -> 64)
  def setNumSamples(v: Int): this.type = set(numSamples, v)
  final val maxTokens = new IntParam(this, "maxTokens",
    "explain at most this many leading tokens")
  setDefault(maxTokens -> 64)
  def setMaxTokens(v: Int): this.type = set(maxTokens, v)
  final val seed = new LongParam(this, "seed", "mask seed")
  setDefault(seed -> 42L)
  def setSeed(v: Long): this.type = set(seed, v)

  final val scoringFn = new Param[DataFrame => DataFrame](this, "scoringFn",
    "black-box scoring function (persisted via Java serialization)")
  private def scorer: DataFrame => DataFrame = get(scoringFn).orNull
  def setModel(t: Transformer): this.type =
    set(scoringFn, (df: DataFrame) => t.transform(df))
  def setScoringFn(f: DataFrame => DataFrame): this.type = set(scoringFn, f)

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  override def transform(ds: Dataset[_]): DataFrame = {
    require(scorer != null, "setModel/setScoringFn first")
    val df = ds.toDF()
    val nS = $(numSamples)
    val maxT = $(maxTokens)
    val sd = $(seed)
    val idIdx = df.schema.fieldIndex(SchemaChecks.resolve(df.schema, $(idCol)))
    val txtIdx = df.schema.fieldIndex(SchemaChecks.resolve(df.schema, $(textCol)))

    val sampleSchema = StructType(Seq(
      StructField("__id", LongType),
      StructField("__mask", ArrayType(DoubleType, containsNull = false)),
      StructField($(textCol), StringType)))
    val exploded = df.mapPartitions { it =>
      it.flatMap { r =>
        val rid = r.getLong(idIdx)
        val tokens = Words.words(
          Option(r.getString(txtIdx)).getOrElse("")).take(maxT)
        val k = math.max(tokens.length, 1)
        (0 until nS).iterator.map { si =>
          val rng = new java.util.Random(mix(mix(sd ^ rid) ^ si))
          val keep = Array.fill(k)(si == 0 || rng.nextBoolean())
          val masked = tokens.zipWithIndex
            .collect { case (t, i) if keep(i) => t }.mkString(" ")
          Row(rid, keep.map(b => if (b) 1.0 else 0.0).toSeq, masked)
        }
      }
    }(ExpressionEncoder(sampleSchema))

    val scored = scorer(exploded)
      .select(col("__id"), col("__mask"),
        col($(scoreCol)).cast("double").as("__y"))

    val outSchema = transformSchema(df.schema)
    val grouped = scored.groupByKey(_.getLong(0))(Encoders.scalaLong)
      .mapGroups { (rid, rows) =>
        val buf = rows.toArray
        val x = buf.map(_.getSeq[Double](1).toArray)
        val y = buf.map(_.getDouble(2))
        val w = Array.fill(buf.length)(1.0)
        val (b0, beta) = WeightedLinearSolver.fit(x, y, w, lambda = 0.0)
        Row(rid, b0, beta.toSeq)
      }(ExpressionEncoder(outSchema))
    grouped.toDF($(idCol), "intercept", "token_importance")
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(Seq(
      StructField($(idCol), LongType),
      StructField("intercept", DoubleType),
      StructField("token_importance",
        ArrayType(DoubleType, containsNull = false))))
  override def copy(extra: ParamMap): TextLIME = {
    val c = new TextLIME(uid); copyValues(c, extra)
  }
}
object TextLIME extends graft.core.GraftReadable[TextLIME]


/** Text Kernel SHAP (ref: explainers/TextSHAP.scala): the token-drop
  * sampler of [[TextLIME]] under the KernelSHAP coalition construction
  * ([[ShapSampling]]: pinned empty/full coalitions + kernel-size-sampled
  * masks), making the per-token coefficients SHAP values —
  * `intercept ≈ f(empty text)` and `intercept + Σφ ≈ f(text)`.
  */
class TextSHAP(override val uid: String) extends Transformer with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("TextSHAP"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val textCol = new Param[String](this, "textCol", "text column")
  setDefault(textCol -> "text")
  def setTextCol(v: String): this.type = set(textCol, v)
  final val scoreCol = new Param[String](this, "scoreCol", "model output col")
  setDefault(scoreCol -> "prediction")
  def setScoreCol(v: String): this.type = set(scoreCol, v)
  final val numSamples = new IntParam(this, "numSamples", "coalitions per doc")
  setDefault(numSamples -> 64)
  def setNumSamples(v: Int): this.type = set(numSamples, v)
  final val maxTokens = new IntParam(this, "maxTokens",
    "explain at most this many leading tokens")
  setDefault(maxTokens -> 64)
  def setMaxTokens(v: Int): this.type = set(maxTokens, v)
  final val seed = new LongParam(this, "seed", "coalition seed")
  setDefault(seed -> 42L)
  def setSeed(v: Long): this.type = set(seed, v)

  final val scoringFn = new Param[DataFrame => DataFrame](this, "scoringFn",
    "black-box scoring function (persisted via Java serialization)")
  private def scorer: DataFrame => DataFrame = get(scoringFn).orNull
  def setModel(t: Transformer): this.type =
    set(scoringFn, (df: DataFrame) => t.transform(df))
  def setScoringFn(f: DataFrame => DataFrame): this.type = set(scoringFn, f)

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  override def transform(ds: Dataset[_]): DataFrame = {
    require(scorer != null, "setModel/setScoringFn first")
    val df = ds.toDF()
    val nS = math.max($(numSamples), 4)
    val maxT = $(maxTokens)
    val sd = $(seed)
    val idIdx = df.schema.fieldIndex(SchemaChecks.resolve(df.schema, $(idCol)))
    val txtIdx = df.schema.fieldIndex(SchemaChecks.resolve(df.schema, $(textCol)))

    val sampleSchema = StructType(Seq(
      StructField("__id", LongType),
      StructField("__w", DoubleType),
      StructField("__mask", ArrayType(DoubleType, containsNull = false)),
      StructField($(textCol), StringType)))
    val exploded = df.mapPartitions { it =>
      it.flatMap { r =>
        val rid = r.getLong(idIdx)
        val tokens = Words.words(
          Option(r.getString(txtIdx)).getOrElse("")).take(maxT)
        val k = math.max(tokens.length, 1)
        val cdf = ShapSampling.sizeCdf(k)
        (0 until nS).iterator.map { si =>
          val rng = new java.util.Random(mix(mix(sd ^ rid) ^ si))
          val (keep, weight) = ShapSampling.coalition(rng, k, si, cdf)
          val masked = tokens.zipWithIndex
            .collect { case (t, i) if keep(i) => t }.mkString(" ")
          Row(rid, weight, keep.map(b => if (b) 1.0 else 0.0).toSeq, masked)
        }
      }
    }(ExpressionEncoder(sampleSchema))

    val scored = scorer(exploded)
      .select(col("__id"), col("__w"), col("__mask"),
        col($(scoreCol)).cast("double").as("__y"))

    val outSchema = transformSchema(df.schema)
    scored.groupByKey(_.getLong(0))(Encoders.scalaLong)
      .mapGroups { (rid, rows) =>
        val buf = rows.toArray
        val x = buf.map(_.getSeq[Double](2).toArray)
        val w = buf.map(_.getDouble(1))
        val y = buf.map(_.getDouble(3))
        val (b0, beta) = WeightedLinearSolver.fit(x, y, w, lambda = 0.0)
        Row(rid, b0, beta.toSeq)
      }(ExpressionEncoder(outSchema))
      .toDF($(idCol), "intercept", "token_shap")
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(Seq(
      StructField($(idCol), LongType),
      StructField("intercept", DoubleType),
      StructField("token_shap",
        ArrayType(DoubleType, containsNull = false))))
  override def copy(extra: ParamMap): TextSHAP = {
    val c = new TextSHAP(uid); copyValues(c, extra)
  }
}
object TextSHAP extends graft.core.GraftReadable[TextSHAP]

