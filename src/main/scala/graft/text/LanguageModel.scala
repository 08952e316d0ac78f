package graft.text

import graft.core._
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CCNet-style n-gram language-model quality scoring (public method:
  * Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data" — there a KenLM 5-gram; here an
  * add-alpha unigram LM, the shuffle-shape being the point): fit counts
  * token frequencies over a reference corpus, transform scores each
  * document by its per-token cross-entropy under the model. Documents
  * far above the corpus-typical cross-entropy are gibberish/noise;
  * far below are boilerplate/repetition — both ends are what a
  * perplexity filter trims before LLM pre-training.
  *
  * Scale shape: fit is ONE hash aggregation over corpus tokens
  * (map-side combine; key space = vocabulary, not corpus) followed by a
  * driver collect bounded by `vocabSize` (top-V by (count desc, token
  * asc) — deterministic). transform broadcasts the (token -> count) map
  * and scores every document in a single narrow pass — no shuffle, no
  * per-row state, embarrassingly parallel at 100 TB.
  *
  * Model: p(t) = (c_t + alpha) / (N + alpha * (V + 1)) for in-vocab t;
  * all out-of-vocab types pool into one UNK pseudo-type with
  * c_unk = N - sum(c_vocab). Tokenization is the corpus convention
  * (lowercase, whitespace split, empty tokens dropped) shared with
  * FrequentNGrams so one vocabulary serves both.
  *
  * Outputs: `lm_n_tokens`, `lm_n_oov` (exact integers),
  * `lm_ce` (nats/token) and `lm_ce_q4` = floor(ce * 1e4 + 0.5) — the
  * scaled-integer form the oracle gates on (doc_stats precedent). The
  * only cross-engine float hazard is ln() ulp drift + summation order,
  * ~1e-12 relative on a per-doc sum — 4 orders of magnitude inside the
  * q4 rounding step.
  */
class UnigramLM(override val uid: String) extends Estimator[UnigramLMModel]
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("UnigramLM"))

  final val vocabSize = new IntParam(this, "vocabSize",
    "keep the top-V tokens by (count desc, token asc); the rest pool " +
      "into UNK", ParamValidators.gt(0))
  setDefault(vocabSize -> 65536)
  def setVocabSize(v: Int): this.type = set(vocabSize, v)

  final val alpha = new DoubleParam(this, "alpha",
    "add-alpha smoothing mass per type", ParamValidators.gt(0.0))
  setDefault(alpha -> 1.0)
  def setAlpha(v: Double): this.type = set(alpha, v)

  final val gramSize = new IntParam(this, "gramSize",
    "model types are word n-grams of this size (1 = unigram; 2 gives " +
      "the hashed-bigram feature space DSIR uses)", ParamValidators.gt(0))
  setDefault(gramSize -> 1)
  def setGramSize(v: Int): this.type = set(gramSize, v)

  override def fit(ds: Dataset[_]): UnigramLMModel = {
    val cnt = PipelineFunctions.explodeNGrams(
        ds.toDF().select(UnigramLM.tokens(col(getInputCol)).as("__toks")),
        col("__toks"), $(gramSize), "__t")
      .select("__t")
      .groupBy("__t").agg(count(lit(1)).as("__c"))
    // persist the (gram -> count) frame so the corpus explode runs ONCE
    // for the two bounded actions below (a 1-row total and a V-row vocab
    // collect) — the frame is vocabulary-sized, not corpus-sized
    cnt.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (total, vocab) = try {
      val t = cnt.agg(coalesce(sum("__c"), lit(0L))).head().getLong(0)
      val v = cnt.orderBy(col("__c").desc, col("__t").asc)
        .limit($(vocabSize)).collect()
        .map(r => r.getString(0) -> r.getLong(1))
      (t, v)
    } finally cnt.unpersist(blocking = false)
    val m = new UnigramLMModel(uid + "_model").setInputCol(getInputCol)
    m.setAlpha($(alpha))
    m.setGramSize($(gramSize))
    m.vocab = vocab
    m.totalTokens = total
    m
  }
  override def transformSchema(schema: StructType): StructType =
    UnigramLM.outputSchema(schema)
  override def copy(extra: ParamMap): UnigramLM = defaultCopy(extra)
}

object UnigramLM extends graft.core.GraftReadable[UnigramLM] {
  /** Shared corpus tokenization: [[Words.words]] of the lowercased text
    * (a whitespace-only document tokenizes to zero tokens, not one empty
    * token). */
  def tokens(c: Column): Column = Words.words(lower(c))

  /** Model types over a MATERIALIZED token-array column: the tokens
    * themselves at n=1, space-joined word n-grams otherwise. Callers
    * must `withColumn` the [[tokens]] expression first — see the
    * [[PipelineFunctions.wordNGrams]] performance contract (an
    * expression argument re-tokenizes per gram position, O(len²)). */
  def gramsOfTokens(toksCol: Column, n: Int): Column =
    if (n == 1) toksCol else PipelineFunctions.wordNGrams(toksCol, n)

  private[text] def outputSchema(schema: StructType): StructType =
    StructType(schema ++ Seq(
      StructField("lm_n_tokens", LongType),
      StructField("lm_n_oov", LongType),
      StructField("lm_ce", DoubleType),
      StructField("lm_ce_q4", LongType)))
}

class UnigramLMModel(override val uid: String) extends Model[UnigramLMModel]
    with HasInputCol with org.apache.spark.ml.util.MLWritable {
  def this() = this(Identifiable.randomUID("UnigramLMModel"))

  final val alpha = new DoubleParam(this, "alpha",
    "add-alpha smoothing mass per type", ParamValidators.gt(0.0))
  setDefault(alpha -> 1.0)
  def setAlpha(v: Double): this.type = set(alpha, v)

  final val gramSize = new IntParam(this, "gramSize",
    "model types are word n-grams of this size", ParamValidators.gt(0))
  setDefault(gramSize -> 1)
  def setGramSize(v: Int): this.type = set(gramSize, v)

  /** (token, corpus count), count desc / token asc; bounded by the
    * estimator's vocabSize. */
  var vocab: Array[(String, Long)] = Array.empty
  /** Total corpus tokens INCLUDING out-of-vocab occurrences. */
  var totalTokens: Long = 0L

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val a = $(alpha)
    val v = vocab.length
    val cUnk = totalTokens - vocab.iterator.map(_._2).sum
    val denom = totalTokens.toDouble + a * (v + 1)
    val unkNum = cUnk.toDouble + a
    val bc = df.sparkSession.sparkContext.broadcast(vocab.toMap)
    val score = udf { toks: Seq[String] =>
      val m = bc.value
      var n = 0L; var oov = 0L; var s = 0.0
      toks.foreach { t =>
        n += 1
        m.get(t) match {
          case Some(c) => s -= math.log((c.toDouble + a) / denom)
          case None => oov += 1; s -= math.log(unkNum / denom)
        }
      }
      val ce = if (n == 0) 0.0 else s / n
      (n, oov, ce, math.floor(ce * 10000.0 + 0.5).toLong)
    }
    df.withColumn("__lm_toks", UnigramLM.tokens(col(getInputCol)))
      .withColumn("__lm",
        score(UnigramLM.gramsOfTokens(col("__lm_toks"), $(gramSize))))
      .withColumn("lm_n_tokens", col("__lm._1"))
      .withColumn("lm_n_oov", col("__lm._2"))
      .withColumn("lm_ce", col("__lm._3"))
      .withColumn("lm_ce_q4", col("__lm._4"))
      .drop("__lm", "__lm_toks")
  }
  override def transformSchema(schema: StructType): StructType =
    UnigramLM.outputSchema(schema)
  override def copy(extra: ParamMap): UnigramLMModel = {
    val c = new UnigramLMModel(uid)
    c.vocab = vocab; c.totalTokens = totalTokens
    copyValues(c, extra)
  }
  override def write: org.apache.spark.ml.util.MLWriter =
    new org.apache.spark.ml.util.MLWriter {
      override protected def saveImpl(path: String): Unit = {
        org.apache.spark.ml.graftshims.PipelineMetadataShim
          .save(UnigramLMModel.this, path, sparkSession)
        graft.core.ModelIO.writeText(sparkSession, s"$path/params.json",
          graft.core.ModelIO.paramsJson(UnigramLMModel.this))
        graft.core.ModelIO.writeObject(sparkSession, s"$path/vocab.bin", vocab)
        graft.core.ModelIO.writeObject(sparkSession, s"$path/total.bin",
          java.lang.Long.valueOf(totalTokens))
      }
    }
}

object UnigramLMModel
    extends org.apache.spark.ml.util.MLReadable[UnigramLMModel] {
  override def read: org.apache.spark.ml.util.MLReader[UnigramLMModel] =
    new org.apache.spark.ml.util.MLReader[UnigramLMModel] {
      override def load(path: String): UnigramLMModel = {
        val m = new UnigramLMModel()
        graft.core.ModelIO.setParamsFromJson(m,
          graft.core.ModelIO.readText(sparkSession, s"$path/params.json"))
        m.vocab = graft.core.ModelIO
          .readObject[Array[(String, Long)]](sparkSession, s"$path/vocab.bin")
        m.totalTokens = graft.core.ModelIO
          .readObject[java.lang.Long](sparkSession, s"$path/total.bin")
          .longValue()
        m
      }
    }
}
