package perfbench

import scala.collection.mutable

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Result of one pass: operations attempted and failed (a failed
  * operation threw, or its output disagreed with the expected value),
  * an order-independent digest of everything the pass produced, and the
  * latencies of its units of work (micro-batches for `stream`). */
final case class PassOut(attempted: Int, failed: Int, digest: String,
    batchS: Seq[Double], notes: Map[String, Double] = Map.empty,
    errors: Seq[String] = Nil)

/** A workload whose inputs are generated and whose indexes/models are
  * built: `pass` runs the timed part once. */
trait Prepared {
  def inputRows: Long
  def pass(ctx: Ctx): PassOut
  /** untraced passes every run measures, however long they take */
  def minPasses: Int = 1
  /** seconds spent in each part of set-up */
  val setupParts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  protected def timed[A](part: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setupParts(part) = (System.nanoTime() - t0) / 1e9
  }
}

/** Runs named checks, turning exceptions and wrong answers into counted
  * failures instead of aborting the pass. */
final class Checks {
  var attempted = 0
  var failed = 0
  val errors: mutable.Buffer[String] = mutable.Buffer()
  val digest = new StringBuilder
  def apply(name: String)(body: => (Boolean, String)): Unit = {
    attempted += 1
    val (ok, d) = try body catch {
      case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (!ok) { failed += 1; errors += s"$name: $d" }
    digest.append(name).append('=').append(d).append(';')
  }
  def out(batchS: Seq[Double], notes: Map[String, Double] = Map.empty): PassOut =
    PassOut(attempted, failed, digest.toString, batchS, notes, errors.toSeq)
}

/** The engine stages the workloads compose, configured as the
  * oracle-checked `SparkEntry` gates named beside them; `Gates` checks
  * that each gives the gate's result on the gate's input. */
object Stages {
  // dedup_exact
  def exactDedup(ctx: Ctx, docs: DataFrame): DataFrame =
    ctx.call("dedup", "ExactDeduplicator.transform")(
      new graft.dedup.ExactDeduplicator().setInputCol("text").setIdCol("doc_id")
        .transform(docs))
  // quality_filter
  def qualityFilter(ctx: Ctx, docs: DataFrame): DataFrame =
    ctx.call("text", "QualityFilter.transform")(
      new graft.text.QualityFilter().setInputCol("text")
        .setMinTokens(40).setMaxTokens(100000)
        .setMinQualityQ4(4000L).setMinStopwordHits(1L).transform(docs))
  // gopher_filter's stage, with the stop words of every generated language
  def gopher(ctx: Ctx, docs: DataFrame): DataFrame =
    ctx.call("text", "GopherQualityFilter.transform")(
      new graft.text.GopherQualityFilter().setInputCol("text")
        .setStopWords((Gen.FunctionWords.values.flatten ++ Gen.EnglishStops)
          .toArray.distinct.sorted)
        .transform(docs))
  // dedup_minhash: LSH candidates verified by exact word-3-gram Jaccard
  def minhash(ctx: Ctx, docs: DataFrame): DataFrame =
    ctx.call("dedup", "MinHashDeduplicator.transform")(
      new graft.dedup.MinHashDeduplicator().setInputCol("text").setIdCol("doc_id")
        .setThreshold(0.8).transform(docs))
  // concat_chunk (seed "42"), curation_e2e (seed "e2e")
  def chunker(ctx: Ctx, docs: DataFrame, seed: String): DataFrame =
    ctx.call("text", "ConcatChunker.transform")(
      new graft.text.ConcatChunker().setInputCol("text").setIdCol("doc_id")
        .setContextLen(128).setSeed(seed).transform(docs))

  /** train_classifier's and tune_hyperparameters' separable rule
    * features over events. */
  def ruleFeatures(events: DataFrame): DataFrame = events.select(col("event_id"),
    when(col("value") > 250, 1.0).otherwise(0.0).as("f1"),
    when(pmod(col("user_id"), lit(2)) === 0, 1.0).otherwise(0.0).as("f2"))

  // train_classifier: (event_id, predicted_label, rule_label)
  def trainClassifier(ctx: Ctx, events: DataFrame): DataFrame = {
    val labeled = ruleFeatures(events).withColumn("rule_label",
      concat(lit("c"), (col("f1") * 2 + col("f2")).cast("int")))
    val m = ctx.call("train", "TrainClassifier.fit")(
      new graft.train.TrainClassifier().setLabelCol("rule_label")
        .setFeatureCols(Seq("f1", "f2")).setLearner("DecisionTree")
        .fit(labeled))
    ctx.call("train", "TrainedClassifierModel.transform")(m.transform(labeled))
  }

  // tune_hyperparameters: (event_id, prediction, label)
  def tuneHyperparameters(ctx: Ctx, events: DataFrame): DataFrame = {
    val data = ruleFeatures(events).withColumn("label", greatest(col("f1"), col("f2")))
    val va = new VectorAssembler().setInputCols(Array("f1", "f2"))
      .setOutputCol("features")
    val dt = new DecisionTreeClassifier()
    val grid = new graft.automl.HyperparamBuilder()
      .addHyperparam(dt.maxDepth, graft.automl.DiscreteHyperParam(Seq(2, 4)))
      .build(2, seed = 5)
    val tuned = ctx.call("automl", "TuneHyperparameters.fit")(
      new graft.automl.TuneHyperparameters(
        Seq(("dt", new Pipeline().setStages(Array(va, dt)), grid)),
        graft.automl.Evaluators.accuracy("label", "prediction"),
        numFolds = 2, parallelism = 4).fit(data))
    ctx.call("automl", "bestModel.transform")(tuned.bestModel.transform(data))
  }

  // sar_recommend (item column event_type there, item_id here)
  def sar(ctx: Ctx, events: DataFrame, itemCol: String): graft.reco.SARModel =
    ctx.call("reco", "SAR.fit")(new graft.reco.SAR().setUserCol("user_id")
      .setItemCol(itemCol).setRatingCol("value").setTimeCol("ts")
      .setDecayHalfLifeDays(30).setSimilarityFunction("jaccard").fit(events))

  // knn_ivfpq
  def ivfpq(ctx: Ctx, emb: DataFrame, queries: DataFrame): DataFrame = {
    val m = ctx.call("sim", "IVFPQNearestNeighbors.fit")(
      new graft.sim.IVFPQNearestNeighbors().setInputCol("embedding")
        .setIdCol("vec_id").setNLists(8).setNumSub(8).setNBits(8).fit(emb))
    ctx.call("sim", "IVFPQNearestNeighborsModel.transform")(
      m.setK(5).setNProbe(6).setRerankK(100)
        .setQueries(queries, "vec_id", "embedding").transform(emb))
  }

  // knn_balltree
  def knn(ctx: Ctx, emb: DataFrame, queries: DataFrame): DataFrame = {
    val m = ctx.call("nn", "KNN.fit")(new graft.nn.KNN().setInputCol("embedding")
      .setIdCol("vec_id").setK(5).fit(emb))
    ctx.call("nn", "KNNModel.transform")(m.transform(queries))
  }
}

object Workloads {
  val Names: Seq[String] = Seq("curate", "fit", "stream")

  /** Sizes per workload and scale. `scale` multiplies the base sets
    * through ScaleGen-style replication. */
  def setup(name: String, spark: SparkSession, seed: Long, scale: Int,
      baseDir: String, dir: String): Prepared = name match {
    case "curate" => new Curate(spark, seed, scale, dir)
    case "fit" => new Fit(spark, seed, scale, baseDir, dir)
    case "stream" => new Stream(spark, seed, scale, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ---------------------------------------------------------------- curate

  /** Exact dedup -> token/quality gate -> Gopher rules -> language ID ->
    * MinHash near-dup (candidates verified by word-3-gram Jaccard) ->
    * concat-and-chunk -> noop sink. The language model is fitted in
    * set-up, as a curation job would load a trained one. */
  final class Curate(spark: SparkSession, seed: Long, scale: Int, dir: String)
      extends Prepared {
    private val in = timed("generate")(Gen.curate(spark, seed, base = 400, factor = scale, dir))
    val inputRows: Long = in.nDocs
    private val expectRows = in.clean.size.toLong
    private val expectHash = in.clean.map(Gen.hashLong).sum
    private val langModel = timed("fit_language_model") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      new graft.text.LanguageIdentifier().setInputCol("text")
        .setLabelCol("lang").setNumBits(12).setMaxIter(10)
        .setTrainSample(1000)
        .fit(docs.filter(col("doc_id") % 3 =!= 0))
    }

    def pass(ctx: Ctx): PassOut = {
      val c = new Checks
      c("curation") {
        val docs = ctx.call("spark", "read")(
          spark.read.parquet(s"$dir/documents.parquet"))
        ctx.mark("input", "docs", docs)
        val dd = Stages.exactDedup(ctx, docs)
        ctx.mark("dedup", "exact", dd, "docs")
        val q = Stages.qualityFilter(ctx, dd)
        ctx.mark("text", "quality", q, "exact")
        val g = Stages.gopher(ctx, q)
        ctx.mark("text", "gopher", g, "quality")
        val li = ctx.call("text", "LanguageIdentifierModel.transform")(langModel.transform(g))
        ctx.mark("text", "langid", li, "gopher")
        val mh = Stages.minhash(ctx, li)
        ctx.mark("dedup", "minhash", mh, "langid")
        val ch = Stages.chunker(ctx,
          mh.select("doc_id", "text", "lang", "lang_pred"), seed.toString)
        ctx.mark("text", "chunks", ch, "minhash")
        // the first chunk of each surviving document starts at token 0
        val first = col("tok_start") === 0
        val r = ctx.sink(ch, Seq(col("doc_id"), col("chunk_id"),
          col("tok_start"), col("tok_end")), Seq(
          count_if(first).as("docs"),
          coalesce(sum(when(first, xxhash64(col("doc_id")).bitwiseAND(0x7fffffffL))),
            lit(0L)).as("doc_hash"),
          count_if(first && col("lang_pred") === col("lang")).as("lang_ok")))
        val ok = r("docs") == expectRows && r("doc_hash") == expectHash &&
          r("lang_ok") >= 0.9 * expectRows
        (ok, s"${r("rows")}/${r("hash")}/${r("docs")}/${r("doc_hash")}/${r("lang_ok")}" +
          (if (ok) "" else s" expected docs=$expectRows doc_hash=$expectHash"))
      }
      c.out(Nil)
    }
  }

  // ------------------------------------------------------------------- fit

  /** Eager estimators with little shuffle: featurization, a decision
    * tree classifier, cross-validated tuning, SAR recommendations with
    * ranking evaluation, ALS access anomalies, an isolation forest, an
    * IVF-PQ index with top-k queries and an exact ball-tree KNN. */
  final class Fit(spark: SparkSession, seed: Long, scale: Int, baseDir: String,
      dir: String) extends Prepared {
    private val in = timed("generate")(Gen.fit(spark, seed, baseDir,
      baseEvents = 1000, factor = scale, dir))
    val inputRows: Long = in.nEvents + in.nVecs + 1004L
    private def events = spark.read.parquet(s"$dir/events.parquet")

    private def cosTopK(q: Array[Float], k: Int): Seq[Long] = {
      def norm(a: Array[Float]) = math.sqrt(a.map(x => x.toDouble * x).sum)
      val qn = norm(q)
      in.vecs.toSeq.map { case (id, v) =>
        (-(q.indices.map(i => q(i).toDouble * v(i)).sum / (qn * norm(v))), id)
      }.sorted.take(k).map(_._2)
    }
    private def l2TopK(q: Array[Float], k: Int): Seq[Long] =
      in.vecs.toSeq.map { case (id, v) =>
        (q.indices.map(i => { val d = q(i).toDouble - v(i); d * d }).sum, id)
      }.sorted.take(k).map(_._2)
    private lazy val exactCos = in.queries.map(q => q -> cosTopK(in.vecs(q), 5)).toMap
    private lazy val exactL2 = in.queries.map(q => q -> l2TopK(in.vecs(q), 5).toSet).toMap

    def pass(ctx: Ctx): PassOut = {
      val c = new Checks
      val ev = ctx.call("spark", "read")(events)
      ctx.mark("input", "events", ev)

      c("featurize") {
        val m = ctx.call("featurize", "Featurize.fit")(
          new graft.featurize.Featurize().setInputCols(Seq("value", "event_type"))
            .setOutputCol("features").fit(ev))
        val out = ctx.call("featurize", "FeaturizeModel.transform")(m.transform(ev))
        ctx.mark("featurize", "featurize", out, "events")
        val r = ctx.sink(out, Seq(col("event_id"), col("features")))
        (r("rows") == in.nEvents, s"${r("rows")}/${r("hash")}")
      }

      c("train_classifier") {
        val out = Stages.trainClassifier(ctx, ev)
        ctx.mark("train", "train", out, "events")
        val r = ctx.sink(out, Seq(col("event_id"), col("predicted_label")),
          Seq(count_if(col("predicted_label") =!= col("rule_label")).as("wrong")))
        (r("wrong") == 0 && r("rows") == in.nEvents, s"${r("rows")}/${r("hash")}/${r("wrong")}")
      }

      c("tune_hyperparameters") {
        val out = Stages.tuneHyperparameters(ctx, ev)
        ctx.mark("automl", "automl", out, "events")
        val r = ctx.sink(out, Seq(col("event_id"), col("prediction")),
          Seq(count_if(col("prediction") =!= col("label")).as("wrong")))
        (r("wrong") == 0, s"${r("rows")}/${r("hash")}/${r("wrong")}")
      }

      c("sar_ranking") {
        val model = Stages.sar(ctx, ev, "item_id")
        val recs = ctx.call("reco", "SARModel.recommendForAllUsers")(
          model.recommendForAllUsers(5, removeSeen = false))
          .groupBy("user")
          .agg(sort_array(collect_list(struct(col("rank"), col("item"))))
            .getField("item").as("recommendations"))
        val gt = ctx.call("reco", "RankingAdapter.transform")(
          new graft.reco.RankingAdapter().setUserCol("user_id")
            .setItemCol("item_id").setRatingCol("value").setK(5).transform(ev))
        val out = ctx.call("reco", "RankingEvaluator.transform")(
          new graft.reco.RankingEvaluator().setK(5).setPerUserMetrics(true)
            .transform(recs.join(gt, "user")))
        ctx.mark("reco", "reco", out, "events")
        val r = ctx.sink(out, Seq(col("user"), col("ndcg_at_k"), col("hit")),
          Seq(count_if(col("ndcg_at_k") < 0 || col("ndcg_at_k") > 1).as("bad")))
        (r("rows") == in.nUsers && r("bad") == 0, s"${r("rows")}/${r("hash")}")
      }

      c("access_anomaly") {
        val acc = ctx.call("spark", "read")(spark.read.parquet(s"$dir/access.parquet"))
        ctx.mark("input", "access", acc)
        val scored = ctx.call("cyber", "AccessAnomaly.transform")(
          new graft.cyber.AccessAnomaly().setTenantCol("tenant")
            .setUserCol("user").setResCol("res").setRank(4).setMaxIter(5)
            .setNumBlocks(2).transform(acc))
        ctx.mark("cyber", "cyber", scored, "access")
        val top = ctx.collect(scored
          .orderBy(col("anomaly_score").desc, col("user"), col("res"))
          .limit(in.plantedAccess.size).select("user", "res"))
          .map(r => (r.getInt(0), r.getInt(1))).toSet
        (top == in.plantedAccess.toSet, top.toSeq.sorted.mkString(","))
      }

      c("isolation_forest") {
        val salt = (seed % 97 + 97) % 97
        val planted = pmod(col("event_id") + salt, lit(97)) === 0
        val data = ev.filter(col("event_id") < in.outlierSlice).select(col("event_id"),
          when(planted, col("value") * 100 + 100000.0).otherwise(col("value")).as("v"))
        val m = ctx.call("anomaly", "IsolationForest.fit")(
          new graft.anomaly.IsolationForest().setInputCols(Seq("v"))
            .setNumTrees(50).setSubsampleSize(256).fit(data))
        val scored = ctx.call("anomaly", "IsolationForestModel.transform")(m.transform(data))
        ctx.mark("anomaly", "anomaly", scored, "events")
        val n = in.plantedOutliers.size
        val top = ctx.collect(scored
          .orderBy(col("anomaly_score").desc, col("event_id")).limit(n)
          .select("event_id")).map(_.getLong(0)).toSet
        val hit = top.count(in.plantedOutliers.contains)
        (hit >= 0.9 * n, s"$hit/$n")
      }

      val emb = ctx.call("spark", "read")(spark.read.parquet(s"$dir/embeddings.parquet"))
      ctx.mark("input", "emb", emb)
      val queries = emb.filter(col("vec_id").isin(in.queries: _*))
      c("knn_ivfpq") {
        val out = Stages.ivfpq(ctx, emb, queries)
        ctx.mark("sim", "sim", out, "emb")
        val got = ctx.collect(out
          .select(col("query_id"), col("neighbors.id").as("ids")))
          .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        val hits = in.queries.map(q => got.getOrElse(q, Nil).count(exactCos(q).contains)).sum
        val recall = hits.toDouble / (5 * in.queries.size)
        (recall >= 0.8, f"$recall%.3f")
      }

      c("knn_balltree") {
        val out = Stages.knn(ctx, emb, queries)
        ctx.mark("nn", "nn", out, "emb")
        val got = ctx.collect(out
          .select(col("vec_id"), col("matches.id")))
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
        val ok = in.queries.forall(q => got.get(q).contains(exactL2(q)))
        (ok, got.toSeq.sortBy(_._1).map(_._2.toSeq.sorted.mkString("-")).mkString(","))
      }
      c.out(Nil)
    }
  }

  // ---------------------------------------------------------------- stream

  /** Closed-loop streaming dedup: micro-batches of fixed size arrive from
    * a file source; each runs the MinHash index probe, embeds survivors
    * and runs the semantic index probe, and its survivors are folded
    * back into both indexes before the next batch is admitted. */
  final class Stream(spark: SparkSession, seed: Long, scale: Int, dir: String)
      extends Prepared {
    private val in = timed("generate")(Gen.stream(spark, seed,
      nCorpus = 300 * scale, batches = 2, novelPerBatch = 8 * scale, dir))
    val inputRows: Long = in.nArrivals
    private val expectRows = in.survivors.size.toLong
    private val expectHash = in.survivors.map(Gen.hashStr).sum
    private val embedder = new graft.text.HashedEmbedder().setInputCol("text")
      .setOutputCol("embedding").setDim(64)
    private val baseSigDir = s"$dir/index_minhash"
    private val baseSemDir = s"$dir/index_sem"
    private val semModel = {
      val corpus = timed("embed_corpus")(embedder.transform(
        spark.read.parquet(s"$dir/corpus.parquet")).localCheckpoint())
      val m = timed("fit_semdedup")(new graft.dedup.IncrementalSemDeDup()
        .setInputCol("embedding").setIdCol("doc_id").setThreshold(0.95)
        .setNClusters(4).fit(corpus))
      timed("index_minhash")(graft.streaming.StreamingMinHashDeduplicator
        .signatureIndex(corpus, "doc_id", "text", 3, 128)
        .write.mode("overwrite").parquet(baseSigDir))
      timed("index_semantic")(m.indexCorpus(corpus).write.mode("overwrite")
        .parquet(baseSemDir))
      m
    }
    private val schema = spark.read.parquet(s"$dir/arrivals").schema
    private val baseIndexRows = spark.read.parquet(baseSigDir).count()
    private var passNo = 0
    // a pass is two micro-batches of ~6 s fixed cost each; two measured
    // passes give four batch latencies per run
    override def minPasses: Int = 2

    def pass(ctx: Ctx): PassOut = {
      passNo += 1
      val c = new Checks
      val work = s"$dir/pass$passNo"
      val sigDelta = s"$work/delta_minhash"
      val semDelta = s"$work/delta_sem"
      val baseSig = ctx.call("spark", "read")(spark.read.parquet(baseSigDir))
      val baseSem = ctx.call("spark", "read")(spark.read.parquet(baseSemDir))
      val mh = new graft.streaming.StreamingMinHashDeduplicator()
        .setInputCol("text").setThreshold(0.85).setCorpusIndex(baseSig)
      val sem = new graft.streaming.StreamingSemDeDup().setInputCol("embedding")
        .setFromModel(semModel).setCorpusIndex(baseSem)
      var kept = 0L
      var keptHash = 0L
      var indexRows = baseIndexRows
      var foldS = 0.0
      val batchErrors = mutable.Buffer[String]()
      var batchesRun = 0
      val q = ctx.call("streaming", "query.start") {
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$dir/arrivals")
          .writeStream.option("checkpointLocation", s"$work/checkpoint")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: scala.Long) =>
            batchesRun += 1
            try {
              val chain = s"batch$id"
              ctx.mark("input", chain, b)
              val a = ctx.call("streaming", "StreamingMinHashDeduplicator.transformMicroBatch")(
                mh.transformMicroBatch(b))
              ctx.mark("streaming", s"$chain.minhash", a, chain)
              val e = ctx.call("text", "HashedEmbedder.transform")(embedder.transform(a))
              ctx.mark("text", s"$chain.embed", e, s"$chain.minhash")
              val s = ctx.call("streaming", "StreamingSemDeDup.transformMicroBatch")(
                sem.transformMicroBatch(e))
              ctx.mark("streaming", s"$chain.semantic", s, s"$chain.embed")
              // materialize the survivors once: the probes read indexes the
              // fold is about to extend, so a recomputation would see the
              // batch's own rows
              val k = ctx.call("spark", "localCheckpoint")(
                s.select("doc_id", "text", "embedding").localCheckpoint())
              val r = ctx.sink(k, Seq(col("text")))
              val t0 = System.nanoTime()
              ctx.call("streaming", "fold") {
                val sig = ctx.call("dedup", "IncrementalMinHashDeduplicator.signatureIndex")(
                  graft.dedup.IncrementalMinHashDeduplicator.signatureIndex(
                    k, "doc_id", "text", 3, 128))
                ctx.call("spark", "write")(sig.write.mode("append").parquet(sigDelta))
                val idx = ctx.call("dedup", "IncrementalSemDeDupModel.indexCorpus")(
                  semModel.indexCorpus(k))
                ctx.call("spark", "write")(idx.write.mode("append").parquet(semDelta))
                kept += r("rows")
                keptHash += r("hash")
                indexRows += r("rows")
                mh.setCorpusIndex(baseSig.unionByName(spark.read.parquet(sigDelta)))
                sem.setCorpusIndex(baseSem.unionByName(spark.read.parquet(semDelta)))
              }
              foldS += (System.nanoTime() - t0) / 1e9
            } catch {
              case e: Throwable =>
                batchErrors += s"batch $id: ${e.getClass.getSimpleName}: ${e.getMessage}"
            }
            ()
          }.start()
      }
      ctx.call("streaming", "query.await")(q.awaitTermination())
      val lat = q.recentProgress.filter(_.numInputRows > 0)
        .map(p => Option(p.durationMs.get("triggerExecution")).map(_.longValue / 1000.0)
          .getOrElse(0.0)).toSeq
      mh.release(); sem.release()
      (0 until batchesRun).foreach { i =>
        c(s"batch$i")(if (i < batchErrors.size) (false, batchErrors(i)) else (true, ""))
      }
      c("survivors")((kept == expectRows && keptHash == expectHash && batchesRun == in.batches,
        s"$kept/$keptHash" + (if (kept == expectRows && keptHash == expectHash) ""
        else s" expected $expectRows/$expectHash")))
      c.out(lat, Map("index_rows" -> indexRows.toDouble, "fold_s" -> foldS,
        "kept_frac" -> kept.toDouble / in.nArrivals))
    }
  }
}
