package graft.text

import graft.core._
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Trained language identification — the first gate of every public
  * web-curation recipe (CCNet/C4/RefinedWeb all lead with a fastText
  * language classifier before any byte-level cleaning; the reference
  * ships the capability as a service call,
  * cognitive/src/main/scala/.../TextAnalytics.scala:298
  * `LanguageDetector` — ours is a native, offline-trainable model).
  *
  * Architecture = the fastText langid shape (Joulin et al. 2016,
  * public literature): hashed char n-grams (orders 1..`maxGram` of the
  * lowercased, whitespace-collapsed text — language signal lives in
  * character statistics, so no vocabulary pass and no tokenizer
  * dependency) through the [[graft.featurize.VowpalHashFeaturizer]]
  * murmur space into Spark ML MULTINOMIAL logistic regression. Labels
  * are indexed by sorted order (collected driver-side — bounded by the
  * number of languages, not the corpus).
  *
  * Scale shape: featurization is a narrow per-row map into a
  * 2^numBits sparse space; training is L-BFGS over the hashed
  * features; scoring broadcasts the (numLanguages x 2^numBits)
  * coefficient matrix and is one narrow pass — zero shuffle at
  * inference, the property that lets it gate a 100 TB crawl. The
  * DENSE coefficient matrix is the documented ceiling: numLanguages x
  * 2^numBits x 8 bytes on the driver and on every executor (176
  * languages at the default numBits 18 ≈ 370 MB; fit warns past
  * 256 MB and fails fast past one JVM array — numBits is the knob,
  * each -1 halves it). The
  * stopword-heuristic `TextAnalysis.languageId` remains the zero-
  * training fallback for report columns; THIS is the recipe gate.
  */
class LanguageIdentifier(override val uid: String)
    extends Estimator[LanguageIdentifierModel] with HasInputCol
    with HasLabelCol with graft.core.GraftWritable
    with org.apache.spark.internal.Logging {
  def this() = this(Identifiable.randomUID("LanguageIdentifier"))

  final val numBits = new IntParam(this, "numBits", "log2 feature space",
    ParamValidators.inRange(1, 26))
  setDefault(numBits -> 18)
  def setNumBits(v: Int): this.type = set(numBits, v)
  final val maxGram = new IntParam(this, "maxGram",
    "char n-gram orders 1..maxGram are hashed",
    ParamValidators.inRange(1, 5))
  setDefault(maxGram -> 3)
  def setMaxGram(v: Int): this.type = set(maxGram, v)
  final val maxIter = new IntParam(this, "maxIter",
    "L-BFGS iteration cap", ParamValidators.gt(0))
  setDefault(maxIter -> 50)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  final val regParam = new DoubleParam(this, "regParam",
    "L2 regularization", ParamValidators.gtEq(0.0))
  setDefault(regParam -> 1e-4)
  def setRegParam(v: Double): this.type = set(regParam, v)
  final val trainSample = new IntParam(this, "trainSample",
    "if > 0, fit on a bounded deterministic sample: the md5-hash-order " +
      "first N rows (a uniform draw independent of partitioning), plus " +
      "a per-class top-up of N/numLanguages rows for any language the " +
      "primary draw missed (rare classes — or mass-duplicated corpora, " +
      "where identical rows tie on the content hash and the top-N " +
      "collapses onto few distinct documents — must not be silently " +
      "dropped from the label space). A 5-language identifier does not " +
      "need a corpus-wide L-BFGS — at 100x the full fit was measured " +
      "671 s while inference stays a narrow broadcast pass (SCALING.md " +
      "round 13).",
    ParamValidators.gtEq(0))
  setDefault(trainSample -> 0)
  def setTrainSample(v: Int): this.type = set(trainSample, v)

  override def fit(ds: Dataset[_]): LanguageIdentifierModel = {
    // match the label census's na.drop: a null-label row would reach
    // L-BFGS as a null y and die with an opaque mid-job error (and the
    // sampled draw's coalesce would happily fill the bounded sample
    // with unlabeled rows)
    val df = ds.toDF().filter(col($(labelCol)).isNotNull)
    // bounded collect: one row per LANGUAGE; sorted order makes the
    // label index a pure function of the label set (deterministic)
    val labels = df.select(col($(labelCol)).cast(StringType))
      .na.drop().distinct().collect().map(_.getString(0)).sorted
    require(labels.length >= 2,
      s"need at least 2 languages to train, got ${labels.toSeq}")
    // coefficient-broadcast budget: multinomial LR materializes (and
    // scoring broadcasts) a DENSE numLanguages x 2^numBits double
    // matrix — numBits is the knob (176 languages at the default
    // numBits 18 is ~370 MB; see the Known-scale-ceilings list in
    // SCALING.md). Fail fast where the dense matrix stops being
    // representable as one JVM array (the fit would otherwise die
    // mid-L-BFGS with an opaque allocation error), warn past 256 MB.
    val matrixEntries = labels.length.toLong * (1L << $(numBits))
    require(matrixEntries <= Int.MaxValue,
      s"${labels.length} languages x 2^${$(numBits)} features = " +
        s"$matrixEntries coefficient entries exceeds one JVM array — " +
        "lower numBits (each -1 halves the matrix) or split the label " +
        "space")
    if (matrixEntries * 8L > LanguageIdentifier.CoefficientWarnBytes)
      logWarning(s"language-ID coefficient matrix is ${labels.length} x " +
        s"2^${$(numBits)} = ${matrixEntries * 8L >> 20} MB; every " +
        "executor holds a broadcast copy at scoring time — consider a " +
        "smaller numBits")
    // bounded training sample: TakeOrdered over an md5 of (label, text)
    // — per-partition top-N then one bounded merge, deterministic under
    // any partitioning (hash ties are identical rows, so the selected
    // MULTISET is unique even when the row choice is not). The label
    // census above stays corpus-wide; any language the primary draw
    // missed — a rare class, or a mass-duplicated corpus whose top-N
    // collapses onto few distinct documents — gets a per-class top-up
    // draw of its fair share, so no class silently vanishes
    // everything after the persist sits inside the try: the stats agg,
    // top-up scans, and fit can all throw, and the cached sample must
    // not outlive this call either way
    var cached: Option[DataFrame] = None
    try {
    val train = if ($(trainSample) > 0) {
      val h = md5(concat_ws(" ",
        coalesce(col($(labelCol)).cast(StringType), lit("")),
        coalesce(col(getInputCol).cast(StringType), lit(""))))
      // persist: the TakeOrdered draw scans the WHOLE corpus, and it
      // feeds both the stats agg and the L-BFGS featurization — without
      // the cache the corpus pays that scan twice (review round 13).
      // Bounded by trainSample rows; released after the fit below.
      val sampled = df.orderBy(h).limit($(trainSample))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached = Some(sampled)
      // one bounded agg over the sample: row count (sizes the fit's
      // partitioning below) + which labels the primary draw hit
      val stats = sampled.agg(count(lit(1)).as("n"),
        collect_set(col($(labelCol)).cast(StringType)).as("ls")).head()
      val n = stats.getLong(0)
      val sampleLabels = stats.getSeq[String](1).sorted
      val missing = labels.diff(sampleLabels)
      val unioned = if (missing.isEmpty) sampled
      else {
        val share = math.max($(trainSample) / labels.length, 1)
        missing.foldLeft(sampled) { (acc, l) =>
          acc.unionByName(df
            .filter(col($(labelCol)).cast(StringType) === l)
            .orderBy(h).limit(share))
        }
      }
      // a global limit lands on ONE partition; left there, gram
      // featurization and every L-BFGS gradient pass run single-
      // threaded (measured 381.7 s at the 100x sweep, nearly all in
      // the one-task fit — SCALING.md round 13). Spread the bounded
      // sample ~1k rows/partition; round-robin from a single fixed
      // input partition is deterministic, and the planted-margin
      // contract tolerates the FP reorder of parallel gradient sums
      val parts = math.max(1, math.min(64, (n / 1024).toInt))
      if (parts > 1) unioned.repartition(parts) else unioned
    } else df
    val y = (array_position(typedLit(labels.toSeq),
      col($(labelCol)).cast(StringType)) - 1).cast(DoubleType)
    val prepped = LanguageIdentifierModel
      .featurize(train, getInputCol, $(numBits), $(maxGram))
      .withColumn("__li_y", y)
    val lr = new LogisticRegression().setFeaturesCol("__li_features")
      .setLabelCol("__li_y").setFamily("multinomial")
      .setMaxIter($(maxIter)).setRegParam($(regParam))
      .setStandardization(false)
    val m = new LanguageIdentifierModel(uid + "_model")
      .setInputCol(getInputCol)
    m.set(m.numBits, $(numBits)).set(m.maxGram, $(maxGram))
      .set(m.labels, labels)
    m.lrModel = lr.fit(prepped)
    m
    } finally cached.foreach(_.unpersist())
  }
  override def transformSchema(schema: StructType): StructType =
    LanguageIdentifierModel.outputSchema(schema)
  override def copy(extra: ParamMap): LanguageIdentifier = defaultCopy(extra)
}

object LanguageIdentifier extends graft.core.GraftReadable[LanguageIdentifier] {
  /** warn when the dense coefficient matrix exceeds this (broadcast to
    * every executor at scoring time) */
  val CoefficientWarnBytes: Long = 256L << 20
}

class LanguageIdentifierModel(override val uid: String)
    extends Model[LanguageIdentifierModel] with HasInputCol
    with org.apache.spark.ml.util.MLWritable {
  def this() = this(Identifiable.randomUID("LanguageIdentifierModel"))

  final val numBits = new IntParam(this, "numBits", "log2 feature space",
    ParamValidators.inRange(1, 26))
  setDefault(numBits -> 18)
  final val maxGram = new IntParam(this, "maxGram",
    "char n-gram orders 1..maxGram are hashed",
    ParamValidators.inRange(1, 5))
  setDefault(maxGram -> 3)
  final val labels = new StringArrayParam(this, "labels",
    "language codes in training index order (sorted)")

  var lrModel: LogisticRegressionModel = _

  override def transform(ds: Dataset[_]): DataFrame = {
    val prepped = LanguageIdentifierModel
      .featurize(ds.toDF(), getInputCol, $(numBits), $(maxGram))
    lrModel.setFeaturesCol("__li_features")
      .setProbabilityCol("__li_probability")
      .setPredictionCol("__li_prediction")
      .setRawPredictionCol("__li_raw")
      .transform(prepped)
      .withColumn("lang_pred", element_at(typedLit($(labels).toSeq),
        col("__li_prediction").cast(IntegerType) + 1))
      .withColumn("lang_prob",
        array_max(vector_to_array(col("__li_probability"))))
      .drop(Seq("__li_features", "__li_probability", "__li_prediction",
        "__li_raw") ++ LanguageIdentifierModel.gramCols($(maxGram)): _*)
  }
  override def transformSchema(schema: StructType): StructType =
    LanguageIdentifierModel.outputSchema(schema)
  override def copy(extra: ParamMap): LanguageIdentifierModel = {
    val c = new LanguageIdentifierModel(uid)
    c.lrModel = lrModel
    copyValues(c, extra)
  }
  override def write: org.apache.spark.ml.util.MLWriter =
    new org.apache.spark.ml.util.MLWriter {
      override protected def saveImpl(path: String): Unit = {
        org.apache.spark.ml.graftshims.PipelineMetadataShim
          .save(LanguageIdentifierModel.this, path, sparkSession)
        graft.core.ModelIO.writeText(sparkSession, s"$path/params.json",
          graft.core.ModelIO.paramsJson(LanguageIdentifierModel.this))
        lrModel.write.overwrite().save(s"$path/lr")
      }
    }
}

object LanguageIdentifierModel
    extends org.apache.spark.ml.util.MLReadable[LanguageIdentifierModel] {

  private[text] def gramCols(maxGram: Int): Seq[String] =
    (1 to maxGram).map(n => s"__li_g$n")

  /** Char n-grams of every order 1..maxGram over the canonicalized
    * text, murmur-hashed into a sparse 2^bits vector — ONE plain-JVM
    * pass per row. The original composition (charNGrams HOF columns →
    * VowpalHashFeaturizer) evaluated transform/sequence as interpreted
    * CodegenFallback lambdas, ~750 per doc at the defaults — the
    * inference wall of the 100x sweep (SCALING.md round 13). This
    * kernel replicates it BIT-EXACTLY — same canon (lower, then \s+ →
    * single space), same codepoint-based grams ([[charNGrams]] is the
    * pinned spec), same `"__li_gN=" + gram` murmur-seed-0 indices, the
    * same +1.0 accumulation — so models saved before the rewrite score
    * identically (feature indices pair with stored coefficients). */
  private[text] def featurize(df: DataFrame, inputCol: String,
      bits: Int, maxGram: Int): DataFrame = {
    val featUdf = udf { text: String => hashFeatures(text, bits, maxGram) }
    df.withColumn("__li_features", featUdf(col(inputCol)))
  }

  private[text] def sparkLower(s: String): String = {
    var i = 0; var ascii = true
    while (i < s.length && ascii) {
      if (s.charAt(i) >= 0x80) ascii = false
      i += 1
    }
    if (!ascii) s.toLowerCase
    else {
      var j = 0; var changed = false
      while (j < s.length && !changed) {
        val c = s.charAt(j)
        if (c >= 'A' && c <= 'Z') changed = true
        j += 1
      }
      if (!changed) s
      else {
        val a = s.toCharArray
        var k = 0
        while (k < a.length) {
          val c = a(k)
          if (c >= 'A' && c <= 'Z') a(k) = (c + 32).toChar
          k += 1
        }
        new String(a)
      }
    }
  }

  private[text] def hashFeatures(text0: String, bits: Int,
      maxGram: Int): org.apache.spark.ml.linalg.SparseVector = {
    val dim = 1 << bits; val mask = dim - 1
    val acc = new java.util.HashMap[Int, Double]()
    if (text0 != null) {
      // replicate UTF8String.toLowerCase exactly: a locale-INDEPENDENT
      // A-Z fast path for full-ASCII strings, default-locale
      // String.toLowerCase for the rest (Spark's own slow path). A bare
      // text0.toLowerCase would make ASCII featurization locale-
      // dependent (tr_TR lowers 'I' to dotless ı) and break saved-model
      // index compatibility; \s+ is the same regex engine either way
      val canon = Words.collapse(sparkLower(text0))
      val cps = canon.codePoints.toArray
      var n = 1
      while (n <= maxGram) {
        val prefix = "__li_g" + n + "="
        var i = 0
        while (i <= cps.length - n) {
          val idx = graft.featurize.Murmur3
            .hashString(prefix + new String(cps, i, n), 0) & mask
          acc.merge(idx, 1.0, (a, b) => a + b)
          i += 1
        }
        n += 1
      }
    }
    val idxs = new Array[Int](acc.size)
    val it = acc.keySet().iterator()
    var j = 0
    while (it.hasNext) { idxs(j) = it.next(); j += 1 }
    java.util.Arrays.sort(idxs)
    val vals = idxs.map(acc.get(_): Double)
    new org.apache.spark.ml.linalg.SparseVector(dim, idxs, vals)
  }

  /** All length-n substrings of `c` (empty array when shorter than n).
    * The explicit when-guard matters: Spark's `sequence(1, 0)` is a
    * DESCENDING sequence, not empty. */
  private[text] def charNGrams(c: Column, n: Int): Column =
    when(length(c) >= n,
      transform(sequence(lit(1), length(c) - (n - 1)),
        i => c.substr(i, lit(n))))
      .otherwise(array().cast(ArrayType(StringType)))

  private[text] def outputSchema(schema: StructType): StructType =
    StructType(schema ++ Seq(
      StructField("lang_pred", StringType),
      StructField("lang_prob", DoubleType)))

  override def read: org.apache.spark.ml.util.MLReader[LanguageIdentifierModel] =
    new org.apache.spark.ml.util.MLReader[LanguageIdentifierModel] {
      override def load(path: String): LanguageIdentifierModel = {
        val m = new LanguageIdentifierModel()
        graft.core.ModelIO.setParamsFromJson(m,
          graft.core.ModelIO.readText(sparkSession, s"$path/params.json"))
        m.lrModel = LogisticRegressionModel.load(s"$path/lr")
        m
      }
    }
}
