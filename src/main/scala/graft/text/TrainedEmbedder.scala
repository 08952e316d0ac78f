package graft.text

import graft.core._
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Learned text → dense embedding: skip-gram word vectors (Mikolov et
  * al. 2013, "Efficient Estimation of Word Representations in Vector
  * Space" — Spark ML's built-in `Word2Vec`, no external model or
  * runtime) mean-pooled per document. Upgrades the embedding loop from
  * the fit-free [[HashedEmbedder]] baseline where SEMANTICS matter:
  * hashed TF × random signs carries only lexical overlap, while trained
  * vectors place co-occurring words near each other, so documents about
  * the same topic in different words land close. Same `Array[Float]`
  * output contract, so every downstream consumer
  * ([[graft.dedup.SemDeDup]], the ANN family, [[graft.nn.MLPScorer]])
  * composes unchanged. This is the in-library analogue of the
  * capability the reference obtains from DNN featurization
  * (ImageFeaturizer — /root/reference/deep-learning/src/main/scala/com/
  * microsoft/ml/spark/ImageFeaturizer.scala:1-197) for the text
  * modality, within the no-native-runtime scope.
  *
  * Scale shape (the 100 TB story):
  *  - fit trains on a BOUNDED deterministic sample (`trainSample` docs,
  *    md5-ordered draw — the LanguageIdentifier/SemDeDup convention):
  *    word distributions converge long before web scale, so the fit
  *    cost is constant in the corpus. The sample is collected and
  *    trained single-partition with a fixed seed, so the fitted vectors
  *    are REPRODUCIBLE — same corpus, same params, same model (a
  *    multi-partition distributed fit would be faster and is
  *    deliberately not the default: Word2Vec's hogwild-style merge is
  *    run-order dependent, and curation pipelines need replayable
  *    gates);
  *  - transform is one narrow map-only projection over a broadcast
  *    (word → vector) table — zero shuffle, O(tokens × dim) per doc,
  *    identical output for any partitioning or cluster size; the
  *    broadcast is vocab × dim floats, bounded by the sample's distinct
  *    tokens and `maxVocab`.
  *
  * Tokenization is [[HashedEmbedder.tokens]], so the two embedders are
  * drop-in swaps.
  * OOV tokens are skipped; a doc with no in-vocabulary token embeds as
  * the zero vector (the HashedEmbedder empty-text convention); null
  * text embeds null.
  *
  * Pooling: flat `mean` (default) or `sif` — smooth-inverse-frequency
  * weighting a/(a+p(w)) (Arora, Liang & Ma 2017, "A Simple but
  * Tough-to-Beat Baseline for Sentence Embeddings", ICLR — public
  * literature), which downweights stopword-frequency tokens so content
  * words drive the document vector; p(w) is the unigram frequency over
  * the SAME training sample, persisted with the model.
  *
  * Subwords (`subwordBits` > 0): the fastText construction (Bojanowski
  * et al. 2017, "Enriching Word Vectors with Subword Information",
  * TACL — public literature) closes the OOV hole that matters at
  * 100 TB — with word-lookup-only vectors, any document whose
  * vocabulary drifted from the bounded fit sample pools toward the
  * ZERO vector, which is exactly the kind of document a downstream
  * quality head most needs to score. At fit time each vocabulary
  * word's boundary-marked character 3-6-grams (`<where>` → `<wh`,
  * `whe`, …, `re>`) are hashed into `2^subwordBits` buckets and each
  * bucket vector is the mean of the word vectors containing it — the
  * closed-form bag-of-subwords derivation (Zhao, Mudgal & Liang 2018,
  * "Generalizing Word Embeddings using Bag of Subwords", EMNLP)
  * rather than fastText's joint training, so the in-vocabulary path —
  * and every committed gate over it — is BIT-IDENTICAL with subwords
  * on or off. At inference an out-of-vocabulary token embeds as the
  * mean of its grams' bucket vectors (grams whose bucket no vocabulary
  * word touched are skipped; a token with no hit at all is skipped as
  * before), so morphological variants of known words land near their
  * stems instead of vanishing. Under `sif` an OOV token weighs
  * a/(a+0) = 1 — unseen means rare, the weighting's own convention.
  * The bucket table adds ≤ 2^subwordBits × dim floats to the broadcast
  * and is persisted with the model.
  */
class TrainedEmbedder(override val uid: String)
    extends Estimator[TrainedEmbedderModel] with HasInputCol
    with GraftWritable {
  def this() = this(Identifiable.randomUID("TrainedEmbedder"))

  final val outputCol = new Param[String](this, "outputCol",
    "embedding output column (array<float>)")
  setDefault(outputCol -> "embedding")
  def setOutputCol(v: String): this.type = set(outputCol, v)

  final val dim = new IntParam(this, "dim",
    "word/document vector dimensions", ParamValidators.gt(0))
  setDefault(dim -> 64)
  def setDim(v: Int): this.type = set(dim, v)

  final val windowSize = new IntParam(this, "windowSize",
    "skip-gram context window", ParamValidators.gt(0))
  setDefault(windowSize -> 5)
  def setWindowSize(v: Int): this.type = set(windowSize, v)

  final val minCount = new IntParam(this, "minCount",
    "minimum token occurrences in the TRAINING SAMPLE for a vocabulary " +
      "entry", ParamValidators.gtEq(1))
  setDefault(minCount -> 2)
  def setMinCount(v: Int): this.type = set(minCount, v)

  final val maxIter = new IntParam(this, "maxIter",
    "training epochs over the sample", ParamValidators.gt(0))
  setDefault(maxIter -> 1)
  def setMaxIter(v: Int): this.type = set(maxIter, v)

  final val seed = new LongParam(this, "seed", "training seed")
  setDefault(seed -> 42L)
  def setSeed(v: Long): this.type = set(seed, v)

  final val trainSample = new IntParam(this, "trainSample",
    "max documents sampled for the fit (md5-ordered deterministic " +
      "draw; the fit collects this many token arrays to the driver)",
    ParamValidators.gt(0))
  setDefault(trainSample -> 16384)
  def setTrainSample(v: Int): this.type = set(trainSample, v)

  final val maxVocab = new IntParam(this, "maxVocab",
    "fail-fast cap on fitted vocabulary entries (the broadcast table " +
      "is vocab x dim floats on every executor)", ParamValidators.gt(0))
  setDefault(maxVocab -> (1 << 20))
  def setMaxVocab(v: Int): this.type = set(maxVocab, v)

  final val normalize = new BooleanParam(this, "normalize",
    "L2-normalize the pooled document vector (cosine-ready)")
  setDefault(normalize -> true)
  def setNormalize(v: Boolean): this.type = set(normalize, v)

  final val pooling = new Param[String](this, "pooling",
    "token-vector pooling: 'mean' (flat average) or 'sif' (smooth " +
      "inverse frequency a/(a+p(w)) weighting, Arora et al. 2017 — " +
      "downweights stopword-frequency tokens so content words drive " +
      "the document vector)",
    ParamValidators.inArray(Array("mean", "sif")))
  setDefault(pooling -> "mean")
  def setPooling(v: String): this.type = set(pooling, v)

  final val sifA = new DoubleParam(this, "sifA",
    "SIF smoothing constant a (the paper's 1e-3..1e-4 band)",
    ParamValidators.gt(0.0))
  setDefault(sifA -> 1e-3)
  def setSifA(v: Double): this.type = set(sifA, v)

  final val subwordBits = new IntParam(this, "subwordBits",
    "0 = word-lookup only (OOV tokens are skipped); >0 = fastText-style " +
      "subword fallback — char minGram..maxGram-grams of vocabulary " +
      "words hash into 2^subwordBits buckets whose vectors embed " +
      "out-of-vocabulary tokens (see the class scaladoc)",
    ParamValidators.inRange(0, 28))
  setDefault(subwordBits -> 0)
  def setSubwordBits(v: Int): this.type = set(subwordBits, v)

  final val minGram = new IntParam(this, "minGram",
    "smallest char n-gram over the boundary-marked word (fastText's 3)",
    ParamValidators.gt(0))
  setDefault(minGram -> 3)
  def setMinGram(v: Int): this.type = set(minGram, v)

  final val maxGram = new IntParam(this, "maxGram",
    "largest char n-gram over the boundary-marked word (fastText's 6)",
    ParamValidators.gt(0))
  setDefault(maxGram -> 6)
  def setMaxGram(v: Int): this.type = set(maxGram, v)

  override def fit(ds: Dataset[_]): TrainedEmbedderModel = {
    val spark = ds.sparkSession
    import spark.implicits._
    val tokUdf = udf((t: String) => HashedEmbedder.tokens(t).toSeq)
    // bounded deterministic draw (the LanguageIdentifier convention):
    // md5 of the text orders the sample, ties are identical docs, so
    // the drawn MULTISET is unique under any partitioning
    val sampled: Array[Seq[String]] = ds.toDF()
      .select(col(getInputCol).cast(StringType).as("__t"))
      .where(col("__t").isNotNull)
      .orderBy(md5(col("__t")), col("__t"))
      .limit($(trainSample))
      .select(tokUdf(col("__t")))
      .as[Seq[String]].collect()
    require(sampled.nonEmpty,
      s"TrainedEmbedder: no non-null '$getInputCol' rows to fit on")
    // single fixed-order partition + fixed seed = reproducible vectors
    // (see the class scaladoc for why this beats a distributed fit
    // here). coalesce, NOT repartition: a repartition shuffle fetches
    // blocks in load-balanced (non-deterministic) order on a real
    // cluster, which would silently reorder the training stream;
    // coalesce merges the local partitions in index order, preserving
    // the collected sample's order exactly
    val train = spark.createDataset(sampled.toIndexedSeq)
      .coalesce(1).toDF("__toks")
    val w2v = new org.apache.spark.ml.feature.Word2Vec()
      .setInputCol("__toks").setOutputCol("__vec")
      .setVectorSize($(dim)).setWindowSize($(windowSize))
      .setMinCount($(minCount)).setMaxIter($(maxIter))
      .setSeed($(seed)).setNumPartitions(1)
    val fitted =
      try w2v.fit(train)
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("vocab") =>
          throw new IllegalArgumentException(
            s"TrainedEmbedder: empty vocabulary — no token reached " +
              s"minCount=${$(minCount)} in the ${sampled.length}-doc " +
              "sample; lower minCount or raise trainSample", e)
      }
    val vecs = fitted.getVectors
      .select(col("word"), col("vector"))
      .collect()
      .map(r => r.getString(0) ->
        r.getAs[org.apache.spark.ml.linalg.Vector](1)
          .toArray.map(_.toFloat))
      .sortBy(_._1)
    require(vecs.length <= $(maxVocab),
      s"TrainedEmbedder: fitted vocabulary ${vecs.length} exceeds " +
        s"maxVocab ${$(maxVocab)} — raise minCount or the cap")
    // unigram frequencies over the SAME sample the vectors trained on
    // (driver-side — the sample is already collected), kept for vocab
    // words only: the SIF weight of an OOV token is moot (skipped)
    val counts = new java.util.HashMap[String, Long]()
    var totalToks = 0L
    sampled.foreach(_.foreach { t =>
      counts.merge(t, 1L, (a, b) => a + b); totalToks += 1
    })
    val freqs = vecs.map { case (w, _) =>
      w -> counts.getOrDefault(w, 0L).toDouble / math.max(1L, totalToks)
    }
    val m = new TrainedEmbedderModel(uid + "_model")
      .setInputCol(getInputCol).setOutputCol($(outputCol))
      .setNormalize($(normalize)).setPooling($(pooling)).setSifA($(sifA))
    m.set(m.wordVectors, vecs.toSeq)
    m.set(m.wordFreqs, freqs.toSeq)
    if ($(subwordBits) > 0) {
      require($(maxGram) >= $(minGram),
        s"maxGram (${$(maxGram)}) must be >= minGram (${$(minGram)})")
      // closed-form bag-of-subwords derivation (Zhao et al. 2018; class
      // scaladoc): bucket vector = mean of the fitted vectors of every
      // vocabulary word containing an n-gram hashing to that bucket.
      // Driver-side over the (bounded) vocabulary — O(vocab × grams).
      val mask = (1 << $(subwordBits)) - 1
      val dimN = vecs.headOption.map(_._2.length).getOrElse(0)
      val sums = new java.util.HashMap[Int, Array[Double]]()
      val cnts = new java.util.HashMap[Int, Long]()
      vecs.foreach { case (w, v) =>
        TrainedEmbedder.charGrams(w, $(minGram), $(maxGram)).foreach { g =>
          val b = SoftDeduplicator.hash64(g).toInt & mask
          val acc = sums.computeIfAbsent(b, _ => new Array[Double](dimN))
          var j = 0
          while (j < dimN) { acc(j) += v(j); j += 1 }
          cnts.merge(b, 1L, (a0, b0) => a0 + b0)
        }
      }
      val buckets = new scala.collection.mutable.ArrayBuffer[
        (Int, Array[Float])](sums.size)
      sums.forEach { (b, acc) =>
        val n = cnts.get(b).toDouble
        buckets += b -> acc.map(x => (x / n).toFloat)
      }
      m.set(m.subwordVectors, buckets.sortBy(_._1).toSeq)
      m.setSubwordBits($(subwordBits))
        .setMinGram($(minGram)).setMaxGram($(maxGram))
    }
    m.setParent(this)
  }

  override def transformSchema(schema: StructType): StructType = {
    require(!schema.fieldNames.contains($(outputCol)),
      s"input already has a column named '${$(outputCol)}'")
    StructType(schema :+ StructField($(outputCol), ArrayType(FloatType)))
  }
  override def copy(extra: ParamMap): TrainedEmbedder = defaultCopy(extra)
}

object TrainedEmbedder extends GraftReadable[TrainedEmbedder] {
  /** fastText's boundary-marked character n-grams: `<where>` at 3..6 →
    * `<wh`, `whe`, …, `here>`, `<where`, `where>` (the multiset — a
    * gram recurring inside one word counts each occurrence, matching
    * the paper's sum over gram POSITIONS). Grams are UTF-16 code-unit
    * windows, fine for the lowercased tokenizer output and
    * deterministic everywhere. A token shorter than minGram-2 yields
    * nothing — no evidence, the caller skips it. */
  private[text] def charGrams(token: String, minN: Int, maxN: Int)
      : Seq[String] = {
    val w = "<" + token + ">"
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var n = minN
    while (n <= maxN) {
      var i = 0
      while (i + n <= w.length) { out += w.substring(i, i + n); i += 1 }
      n += 1
    }
    out.toSeq
  }
}

/** Fitted [[TrainedEmbedder]]: a (word → vector) table, persisted with
  * the stage through [[graft.core.GraftWritable]]'s `complex.bin` (the
  * reference's ComplexParams pattern), broadcast once per transform. */
class TrainedEmbedderModel(override val uid: String)
    extends Model[TrainedEmbedderModel] with HasInputCol
    with HasOutputCol with GraftWritable {
  def this() = this(Identifiable.randomUID("TrainedEmbedderModel"))
  setDefault(outputCol -> "embedding")

  final val normalize = new BooleanParam(this, "normalize",
    "L2-normalize the pooled document vector")
  setDefault(normalize -> true)
  def setNormalize(v: Boolean): this.type = set(normalize, v)

  final val pooling = new Param[String](this, "pooling",
    "token-vector pooling: 'mean' or 'sif' (a/(a+p(w)) weights)",
    ParamValidators.inArray(Array("mean", "sif")))
  setDefault(pooling -> "mean")
  def setPooling(v: String): this.type = set(pooling, v)

  final val sifA = new DoubleParam(this, "sifA",
    "SIF smoothing constant a", ParamValidators.gt(0.0))
  setDefault(sifA -> 1e-3)
  def setSifA(v: Double): this.type = set(sifA, v)

  /** Fitted vocabulary, word-sorted; a complex Param so save/load
    * round-trips the whole model. */
  final val wordVectors = new Param[Seq[(String, Array[Float])]](this,
    "wordVectors", "fitted (word, vector) table, word-sorted")

  /** Sample unigram frequencies of the vocabulary words (the SIF
    * weights' p(w)); persisted alongside the vectors. */
  final val wordFreqs = new Param[Seq[(String, Double)]](this,
    "wordFreqs", "fitted (word, sample frequency) table")

  final val subwordBits = new IntParam(this, "subwordBits",
    "0 = word-lookup only; >0 = subword OOV fallback over 2^bits buckets",
    ParamValidators.inRange(0, 28))
  setDefault(subwordBits -> 0)
  def setSubwordBits(v: Int): this.type = set(subwordBits, v)
  final val minGram = new IntParam(this, "minGram",
    "smallest char n-gram", ParamValidators.gt(0))
  setDefault(minGram -> 3)
  def setMinGram(v: Int): this.type = set(minGram, v)
  final val maxGram = new IntParam(this, "maxGram",
    "largest char n-gram", ParamValidators.gt(0))
  setDefault(maxGram -> 6)
  def setMaxGram(v: Int): this.type = set(maxGram, v)

  /** Derived subword bucket vectors (bucket-sorted, sparse — only
    * buckets some vocabulary gram touched); a complex Param persisted
    * with the vectors. */
  final val subwordVectors = new Param[Seq[(Int, Array[Float])]](this,
    "subwordVectors", "derived (bucket, vector) table, bucket-sorted")

  def vocabSize: Int = $(wordVectors).size
  def dim: Int = $(wordVectors).headOption.map(_._2.length).getOrElse(0)

  override def transform(ds: Dataset[_]): DataFrame = {
    require(isSet(wordVectors) && $(wordVectors).nonEmpty,
      "model has no word vectors (not fitted / loaded?)")
    val d = dim
    val norm = $(normalize)
    val sif = $(pooling) == "sif"
    val a = $(sifA)
    require(!sif || isSet(wordFreqs),
      "pooling=sif needs the fitted word frequencies (refit, or a " +
        "pre-round-16 save lacks them — pooling=mean still works)")
    val freqByWord: Map[String, Double] =
      if (sif) $(wordFreqs).toMap else Map.empty
    val useSub = $(subwordBits) > 0 && isSet(subwordVectors) &&
      $(subwordVectors).nonEmpty
    val (minN, maxN) = ($(minGram), $(maxGram))
    val table = ds.sparkSession.sparkContext.broadcast {
      val m = new java.util.HashMap[String, (Array[Float], Double)](
        $(wordVectors).size * 2)
      // per-word SIF weight precomputed once on the driver: the
      // transform kernel then pays one map lookup per token either way
      $(wordVectors).foreach { case (w, v) =>
        val weight =
          if (sif) a / (a + freqByWord.getOrElse(w, 0.0)) else 1.0
        m.put(w, (v, weight))
      }
      m
    }
    // only materialized when subwords are on — a subwordBits=0 model
    // must not register an empty broadcast per transform call
    val subTable =
      if (!useSub) null
      else ds.sparkSession.sparkContext.broadcast {
        val m = new java.util.HashMap[Integer, Array[Float]](
          $(subwordVectors).size * 2)
        $(subwordVectors).foreach { case (b, v) => m.put(b, v) }
        m
      }
    val mask = (1 << $(subwordBits)) - 1
    val embUdf = udf { text: String =>
      if (text == null) null
      else {
        val toks = HashedEmbedder.tokens(text)
        val acc = new Array[Double](d)
        var n = 0
        toks.foreach { t =>
          val e = table.value.get(t)
          if (e != null) {
            val (v, w) = e
            var j = 0
            while (j < d) { acc(j) += w * v(j); j += 1 }
            n += 1
          } else if (useSub) {
            // OOV fallback: mean of the token's grams' bucket vectors
            // (buckets no vocabulary gram touched are skipped). SIF
            // weight of an unseen token is a/(a+0) = 1 — unseen means
            // rare, the weighting's own convention — so the bucket
            // mean adds in unweighted, exactly like a minimum-p(w)
            // content word.
            val sub = new Array[Double](d)
            var hits = 0
            TrainedEmbedder.charGrams(t, minN, maxN).foreach { g =>
              val bv = subTable.value.get(
                SoftDeduplicator.hash64(g).toInt & mask)
              if (bv != null) {
                var j = 0
                while (j < d) { sub(j) += bv(j); j += 1 }
                hits += 1
              }
            }
            if (hits > 0) {
              var j = 0
              while (j < d) { acc(j) += sub(j) / hits; j += 1 }
              n += 1
            }
          }
        }
        val out = new Array[Float](d)
        if (n > 0) {
          // both modes divide by the in-vocab token count: flat mean at
          // weight 1, the paper's (1/|d|) Σ a/(a+p(w)) v_w for SIF
          var j = 0
          while (j < d) { acc(j) /= n; j += 1 }
          if (norm) {
            var ss = 0.0
            j = 0
            while (j < d) { ss += acc(j) * acc(j); j += 1 }
            val inv = if (ss > 0.0) 1.0 / math.sqrt(ss) else 0.0
            j = 0
            while (j < d) { out(j) = (acc(j) * inv).toFloat; j += 1 }
          } else {
            j = 0
            while (j < d) { out(j) = acc(j).toFloat; j += 1 }
          }
        }
        out
      }
    }
    ds.toDF().withColumn(getOutputCol, embUdf(col(getInputCol)))
  }

  override def transformSchema(schema: StructType): StructType = {
    require(!schema.fieldNames.contains(getOutputCol),
      s"input already has a column named '$getOutputCol'")
    StructType(schema :+ StructField(getOutputCol, ArrayType(FloatType)))
  }
  override def copy(extra: ParamMap): TrainedEmbedderModel =
    defaultCopy[TrainedEmbedderModel](extra).setParent(parent)
}
object TrainedEmbedderModel extends GraftReadable[TrainedEmbedderModel]
