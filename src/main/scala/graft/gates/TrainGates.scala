package graft
package gates

import graft.featurize._
import graft.sim._
import graft.gates.GateSupport.tbl
import org.apache.spark.sql.functions._

/** Closed-vocabulary TF gate constants shared by the text_featurizer
  * query and its oracle: 10 common stopwords, murmur bucket per term via
  * the public HashingTF.indexOf, collision-freedom asserted at build time
  * (so the gate cannot depend on fixture luck).
  */
private[graft] object TextFeaturizerGate {
  val Terms: Seq[String] =
    Seq("the", "and", "of", "to", "a", "in", "is", "for", "on", "with")
  // the gate's input text is restricted to the closed term set before
  // featurizing, so the hash space only has to keep THESE 10 terms
  // collision-free (asserted below) — and a small space keeps the
  // vector_to_array in the gate query O(1k), not O(256k), per row
  val NumFeatures: Int = 1 << 10
  lazy val termIndices: Seq[(String, Int)] = {
    val htf = new org.apache.spark.ml.feature.HashingTF()
      .setNumFeatures(NumFeatures)
    val idx = Terms.map(t => t -> htf.indexOf(t))
    require(idx.map(_._2).distinct.size == Terms.size,
      "closed-set bucket collision — pick different terms")
    idx
  }
}

/** Train / eval gates (SURVEY.md §2.13): classifiers, model
  * statistics, featurizers and the approximate-KNN index recall gates. */
object TrainGates {
  val gates: Seq[Gate] = Seq(
    // Exactly-separable planted rule (model_statistics' rule-model idea,
    // but through the REAL fit path): the label is a pure function of two
    // binary features, so the tree reaches pure leaves and the trained
    // model's predictions equal the rule row-for-row — which the oracle
    // recomputes in SQL. Exercises the full chain: label indexing,
    // feature assembly, fit, scoring, label mapped back to strings.
    Gate("train_classifier", { (s, dir) =>
      val events = tbl(s, dir, "events")
        .select(col("event_id"),
          when(col("value") > 250, 1.0).otherwise(0.0).as("f1"),
          when(pmod(col("user_id"), lit(2)) === 0, 1.0).otherwise(0.0).as("f2"))
        .withColumn("rule_label",
          concat(lit("c"), (col("f1") * 2 + col("f2")).cast("int")))
      val model = new graft.train.TrainClassifier().setLabelCol("rule_label")
        .setFeatureCols(Seq("f1", "f2")).setLearner("DecisionTree")
        .fit(events)
      model.transform(events)
        .select(col("event_id"), col("predicted_label"))
    }, oracle = Some(
      // trained-on-separable-rule predictions == the rule itself
      """SELECT event_id, 'c' || CAST(
        |  (CASE WHEN value > 250 THEN 2 ELSE 0 END) +
        |  (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |  AS INTEGER) AS predicted_label
        |FROM events""".stripMargin)),

    // hash-gated: the operator under test is ComputeModelStatistics itself,
    // driven by a DETERMINISTIC rule model (no fit) so the confusion counts
    // are fixture-exact. Accuracy / weighted precision / recall / F1 are
    // integer-ratio functions of those counts; floor-scaled to q4 integers
    // they hash-match SQL count arithmetic. AUC (sort + trapezoid, not
    // SQL-stable) stays suite-gated via the BenchmarksSuite AUROC goldens.
    Gate("model_statistics", { (s, dir) =>
      val scored = tbl(s, dir, "events")
        .withColumn("is_purchase",
          when(col("event_type") === "purchase", 1.0).otherwise(0.0))
        .withColumn("prediction",
          when(col("value") > 35.0, 1.0).otherwise(0.0))
      new graft.train.ComputeModelStatistics().setLabelCol("is_purchase")
        .setEvaluationMetric("classification")
        .transform(scored)
        .select(
          floor(col("accuracy") * 1e4 + 0.5).cast("long").as("accuracy_q4"),
          floor(col("precision") * 1e4 + 0.5).cast("long").as("precision_q4"),
          floor(col("recall") * 1e4 + 0.5).cast("long").as("recall_q4"),
          floor(col("f1") * 1e4 + 0.5).cast("long").as("f1_q4"))
    }, oracle = Some(
      // mirrors MulticlassMetrics arithmetic exactly: per-class precision =
      // tp/(tp+fp), recall = tp/classCount, f1 = ((2*p)*r)/((1*p)+r), weighted
      // mean term = ((metric * classCount) / n), label-0 term first — every
      // division/multiplication in the same IEEE order the evaluator uses,
      // then the same floor(x*1e4+0.5) scaling as the Spark projection
      """WITH c AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN event_type = 'purchase' AND value > 35.0
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS tp1,
        |    CAST(SUM(CASE WHEN event_type <> 'purchase' AND value > 35.0
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS fp1,
        |    CAST(SUM(CASE WHEN event_type <> 'purchase' AND NOT value > 35.0
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS tp0,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' AND NOT value > 35.0
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS fp0,
        |    CAST(COUNT(*) AS DOUBLE) AS n
        |  FROM events),
        |m AS (
        |  SELECT n, tp0 + fp1 AS c0, tp1 + fp0 AS c1,
        |    CASE WHEN tp0 + fp0 = 0 THEN 0 ELSE tp0 / (tp0 + fp0) END AS p0,
        |    CASE WHEN tp1 + fp1 = 0 THEN 0 ELSE tp1 / (tp1 + fp1) END AS p1,
        |    tp0 / (tp0 + fp1) AS r0, tp1 / (tp1 + fp0) AS r1,
        |    (tp0 + tp1) / n AS accuracy
        |  FROM c),
        |f AS (
        |  -- zero-denominator guards mirror MulticlassMetrics' convention
        |  -- (precision/fMeasure return 0 for a never-predicted class)
        |  SELECT n, c0, c1, p0, p1, r0, r1, accuracy,
        |    CASE WHEN p0 + r0 = 0 THEN 0
        |      ELSE ((2.0 * p0) * r0) / ((1.0 * p0) + r0) END AS f0,
        |    CASE WHEN p1 + r1 = 0 THEN 0
        |      ELSE ((2.0 * p1) * r1) / ((1.0 * p1) + r1) END AS f1
        |  FROM m)
        |SELECT
        |  CAST(floor(accuracy * 10000.0 + 0.5) AS BIGINT) AS accuracy_q4,
        |  CAST(floor((((p0 * c0) / n) + ((p1 * c1) / n)) * 10000.0 + 0.5)
        |    AS BIGINT) AS precision_q4,
        |  CAST(floor((((r0 * c0) / n) + ((r1 * c1) / n)) * 10000.0 + 0.5)
        |    AS BIGINT) AS recall_q4,
        |  CAST(floor((((f0 * c0) / n) + ((f1 * c1) / n)) * 10000.0 + 0.5)
        |    AS BIGINT) AS f1_q4
        |FROM f""".stripMargin)),

    // Exact TF gate: restrict the vocabulary to a CLOSED query-defined
    // term set (so hash collisions are impossible by construction, not by
    // fixture luck), featurize for real (RegexTokenizer -> HashingTF),
    // and emit integer (doc_id, feat_idx, tf) long-form. The oracle
    // re-counts tokens in SQL and maps term -> murmur bucket via
    // constants computed from HashingTF.indexOf (closed-set pattern, as
    // vw_featurizer). IDF's float product stays suite-gated
    // (TrainSuite/BenchmarksSuite exercise the full tf-idf chain).
    // Featurize's timestamp/date path as an exact long-form gate: the
    // five assembled components (epoch seconds, year, month, dayofweek,
    // day) are integers by construction, so vector_to_array slots cast
    // exactly to BIGINT and DuckDB recomputes them with date parts
    // (Spark dayofweek is 1=Sunday..7; DuckDB's is 0=Sunday..6, +1).
    Gate("featurize_datetime", { (s, dir) =>
      val orders = tbl(s, dir, "orders")
      val m = new Featurize().setInputCols(Seq("o_orderdate"))
        .setOutputCol("f").fit(orders)
      val arr = org.apache.spark.ml.functions.vector_to_array(col("f"))
      m.transform(orders).withColumn("__arr", arr)
        .select(col("o_orderkey"),
          col("__arr")(0).cast("long").as("epoch_ms"),
          col("__arr")(1).cast("long").as("yr"),
          col("__arr")(2).cast("long").as("dow"),
          col("__arr")(3).cast("long").as("mo"),
          col("__arr")(4).cast("long").as("dom"))
    }, oracle = Some(
      """SELECT o_orderkey,
        |  epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS epoch_ms,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(isodow(o_orderdate) AS BIGINT) AS dow,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom
        |FROM orders""".stripMargin)),

    // timestamp path: the reference's full 8-component layout
    // [epochMs, year, isoDow, month, day, hour, minute, second]
    Gate("featurize_timestamp", { (s, dir) =>
      // events.ts has shipped as raw long nanos (nanosAsLong), TIMESTAMP
      // and TIMESTAMP_NTZ across testdata generations — normalize to a
      // session-TZ (UTC) timestamp whatever arrives; Featurize takes
      // typed timestamp columns
      val ev0 = tbl(s, dir, "events")
      val events = ev0.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          ev0.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          ev0.withColumn("ts", col("ts").cast("timestamp"))
        case _ => ev0
      }
      val m = new Featurize().setInputCols(Seq("ts"))
        .setOutputCol("f").fit(events)
      val arr = org.apache.spark.ml.functions.vector_to_array(col("f"))
      m.transform(events).withColumn("__arr", arr)
        .select(col("event_id"),
          col("__arr")(0).cast("long").as("epoch_ms"),
          col("__arr")(1).cast("long").as("yr"),
          col("__arr")(2).cast("long").as("dow"),
          col("__arr")(3).cast("long").as("mo"),
          col("__arr")(4).cast("long").as("dom"),
          col("__arr")(5).cast("long").as("hr"),
          col("__arr")(6).cast("long").as("mi"),
          col("__arr")(7).cast("long").as("sec"))
    }, oracle = Some(
      """SELECT event_id,
        |  epoch_ms(ts) AS epoch_ms,
        |  CAST(year(ts) AS BIGINT) AS yr,
        |  CAST(isodow(ts) AS BIGINT) AS dow,
        |  CAST(month(ts) AS BIGINT) AS mo,
        |  CAST(day(ts) AS BIGINT) AS dom,
        |  CAST(hour(ts) AS BIGINT) AS hr,
        |  CAST(minute(ts) AS BIGINT) AS mi,
        |  CAST(second(ts) AS BIGINT) AS sec
        |FROM events""".stripMargin)),

    Gate("text_featurizer", { (s, dir) =>
      val docs = tbl(s, dir, "documents")
        // explicit whitespace class, NOT \s: Java's \s includes
        // (vertical tab) where DuckDB's RE2 \s does not — both sides of
        // the gate must split on the identical character set
        .withColumn("__closed", concat_ws(" ",
          org.apache.spark.sql.functions.filter(
            split(lower(col("text")), "[ \\t\\n\\r\\f]+"),
            t => t.isInCollection(TextFeaturizerGate.Terms))))
      val m = new TextFeaturizer().setInputCol("__closed")
        .setOutputCol("feats").setUseIDF(false)
        .setNumFeatures(TextFeaturizerGate.NumFeatures).fit(docs)
      val arr = org.apache.spark.ml.functions.vector_to_array(col("feats"))
      val stackExpr = TextFeaturizerGate.termIndices
        .map { case (_, i) => s"$i, CAST(__arr[$i] AS BIGINT)" }
        .mkString(s"stack(${TextFeaturizerGate.Terms.size}, ", ", ",
          ") AS (feat_idx, tf)")
      m.transform(docs).withColumn("__arr", arr)
        .selectExpr("doc_id", stackExpr)
        .filter(col("tf") > 0)
    }, oracle = Some {
      // closed-vocab TF long form; term -> bucket constants from
      // HashingTF.indexOf (public murmur mapping), collision-checked
      val inList = TextFeaturizerGate.Terms.map(t => s"'$t'").mkString(", ")
      val cases = TextFeaturizerGate.termIndices
        .map { case (t, i) => s"WHEN '$t' THEN $i" }.mkString(" ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(lower(text), '[ \\t\\n\\r\\f]+'),
         |    t -> t IN ($inList))) AS tok
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(CASE tok $cases END AS INTEGER) AS feat_idx,
         |  CAST(COUNT(*) AS BIGINT) AS tf
         |FROM toks GROUP BY 1, 2""".stripMargin
    }),

    Gate("knn_lsh", { (s, dir) => // rows-only
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      new LSHNearestNeighbors().setInputCol("embedding").setIdCol("vec_id")
        // 2-bit bands sized for the small sf corpora (500-2000 vectors):
        // recall@5 ~0.98 vs brute force (SimilaritySuite gates >= 0.9).
        // The 64-plane/16-bit default targets >=10M-vector corpora.
        .setK(5).setNumPlanes(16).setBands(8)
        .setQueries(queries, "vec_id", "embedding")
        .transform(emb)
        .select(col("query_id"), explode(col("neighbors.id")).as("neighbor_id"))
    }, oracle = None),

    Gate("embedding_pool", { (s, dir) => // per-group mean-pooled vectors
      new graft.sim.EmbeddingMeanPooler().setInputCol("embedding")
        .setGroupCols(Array("__grp")).setOutputCol("pooled")
        .transform(tbl(s, dir, "embeddings")
          .withColumn("__grp", (col("vec_id") % 10).cast("long")))
        .select(col("__grp").as("grp"), posexplode(col("pooled")))
        .select(col("grp"), col("pos").cast("int").as("dim"),
          col("col").as("mean_val"))
    }, oracle = Some(
      // per-(group, dim) exact decimal mean over unnested embeddings
      """SELECT CAST(vec_id % 10 AS BIGINT) AS grp,
        |  CAST(i - 1 AS INTEGER) AS dim,
        |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,8)))
        |    AS DOUBLE) / COUNT(embedding[i]) AS mean_val
        |FROM (SELECT vec_id, embedding,
        |  unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)
        |GROUP BY 1, 2""".stripMargin)),

    Gate("knn_conditional", { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
        .withColumn("label", (col("vec_id") % 3).cast("int"))
      val m = new graft.nn.KNN().setInputCol("embedding").setIdCol("vec_id")
        .setLabelCol("label").setK(5).fit(emb)
      m.setConditionerCol("allowed")
        .transform(emb.filter(col("vec_id") < 10)
          .withColumn("allowed", array(lit(0), lit(1))))
        .select(col("vec_id"),
          explode(col(m.getOutputCol).getField("id")).as("neighbor_id"))
    }, oracle = Some(
      // label-conditioned exact KNN: corpus restricted to allowed labels
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |corpus AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE CAST(vec_id % 3 AS INTEGER) IN (0, 1)),
        |scored AS (SELECT q.qid, e.vec_id AS id,
        |    list_distance(q.qv, e.embedding) AS d
        |  FROM q CROSS JOIN corpus e),
        |ranked AS (SELECT qid, id, row_number() OVER (
        |    PARTITION BY qid ORDER BY d, id) AS rn FROM scored)
        |SELECT qid AS vec_id, id AS neighbor_id FROM ranked WHERE rn <= 5""".stripMargin)),

    Gate("knn_ivf", { (s, dir) => // rows-only (kmeans cell assignment)
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      new IVFNearestNeighbors().setInputCol("embedding").setIdCol("vec_id")
        // 8 cells / 6 probes: the small-sf corpora are near-unclustered
        // random vectors, so 50% scan tops out at ~0.83 median recall over
        // quantizer seeds — 6 probes is the smallest point whose WORST
        // seed stays above the suite's 0.9 recall gate (margin per the
        // probabilistic-gate discipline). Production corpora with real
        // cluster structure run nLists=4096/nProbe=64 (~1.6% scan).
        .setNLists(8).fit(emb)
        .setK(5).setNProbe(6).setQueries(queries, "vec_id", "embedding")
        .transform(emb)
        .select(col("query_id"), explode(col("neighbors.id")).as("neighbor_id"))
    }, oracle = None),

    // ANN quality gate: LSH at near-exhaustive banding (1-bit bands: a
    // neighbor is missed only if ALL 16 sign bits differ) compared against
    // brute force IN Spark; emits per-query hit counts whose oracle is the
    // constant full-recall table — any recall loss turns the row red
    Gate("knn_lsh_recall", { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val lsh = new LSHNearestNeighbors().setInputCol("embedding")
        .setIdCol("vec_id").setK(5).setNumPlanes(16).setBands(16)
        .setQueries(queries, "vec_id", "embedding").transform(emb)
        .select(col("query_id"), explode(col("neighbors.id")).as("id"))
      val bf = new NearestNeighbors().setInputCol("embedding")
        .setIdCol("vec_id").setK(5).setQueries(queries, "vec_id", "embedding")
        .transform(emb)
        .select(col("query_id"), explode(col("neighbors.id")).as("id"))
      bf.join(lsh, Seq("query_id", "id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
        .select(col("query_id"), col("hits"), lit(5L).as("k"))
    }, oracle = Some(
      // full recall is the expected steady state at 1-bit banding; any ANN
      // regression (banding, bucket join, top-k) breaks the hash
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS hits,
        |  CAST(5 AS BIGINT) AS k
        |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // IVF twin of knn_lsh_recall: at nProbe == nLists the posting-list
    // scan is exhaustive, so the top-5 must EQUAL brute force — any cell
    // assignment / probe-join / top-k regression breaks the constant
    // full-recall hash (cells only shape the scan, never the candidates)
    // k-NN GRAPH (self top-k join, query set == corpus): brute mode on
    // a 100-node subgraph, every edge hash-gated against the all-pairs
    // SQL replay (knn_bruteforce float precedent: cosine doubles agree
    // across engines; tie-break (score desc, id asc) in both)
    Gate("knn_graph", { (s, dir) =>
      val emb = tbl(s, dir, "embeddings").filter(col("vec_id") < 100)
      new graft.sim.KNNGraph().setInputCol("embedding").setIdCol("vec_id")
        .setK(3).setBruteForce(true)
        .transform(emb)
        .select(col("query_id"), explode(col("neighbors.id")).as("neighbor_id"))
    }, oracle = Some(
      // exhaustive probing == brute force, deterministically (quantizer is
      // seeded and trained driver-side; ties break by id in the aggregator)
      // every (node, neighbor) edge of the 100-node brute-force graph
      """WITH sub AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id < 100),
        |scored AS (SELECT q.vec_id AS query_id, e.vec_id AS id,
        |    list_cosine_similarity(q.embedding, e.embedding) AS score
        |  FROM sub q CROSS JOIN sub e WHERE q.vec_id <> e.vec_id),
        |ranked AS (SELECT query_id, id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, id) AS rn FROM scored)
        |SELECT query_id, id AS neighbor_id FROM ranked WHERE rn <= 3""".stripMargin)),

    // IVF-mode graph at nProbe == nLists: every cell probed, so the
    // cell partition cannot lose a neighbor and the graph must equal
    // brute force EXACTLY — per-node hit count is the constant k
    // (the knn_ivf_recall pattern)
    Gate("knn_graph_recall", { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val g = new graft.sim.KNNGraph().setInputCol("embedding")
        .setIdCol("vec_id").setK(5).setNLists(8).setNProbe(8)
      val ivf = g.transform(emb)
        .select(col("query_id"), explode(col("neighbors.id")).as("id"))
      val bf = g.copy(org.apache.spark.ml.param.ParamMap.empty)
        .setBruteForce(true).transform(emb)
        .select(col("query_id"), explode(col("neighbors.id")).as("id"))
      bf.join(ivf, Seq("query_id", "id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
        .select(col("query_id"), col("hits"), lit(5L).as("k"))
    }, oracle = Some(
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS hits,
        |  CAST(5 AS BIGINT) AS k
        |FROM embeddings""".stripMargin)),

    Gate("knn_ivf_recall", { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val ivf = new IVFNearestNeighbors().setInputCol("embedding")
        .setIdCol("vec_id").setNLists(8).fit(emb)
        .setK(5).setNProbe(8).setQueries(queries, "vec_id", "embedding")
        .transform(emb)
        .select(col("query_id"), explode(col("neighbors.id")).as("id"))
      val bf = new NearestNeighbors().setInputCol("embedding")
        .setIdCol("vec_id").setK(5).setQueries(queries, "vec_id", "embedding")
        .transform(emb)
        .select(col("query_id"), explode(col("neighbors.id")).as("id"))
      bf.join(ivf, Seq("query_id", "id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
        .select(col("query_id"), col("hits"), lit(5L).as("k"))
    }, oracle = Some(
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS hits,
        |  CAST(5 AS BIGINT) AS k
        |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // IVF-PQ at an operating point (rows-only: kmeans codebooks are not
    // SQL-replayable); the exactness companion is knn_ivfpq_recall
    Gate("knn_ivfpq", { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      new graft.sim.IVFPQNearestNeighbors().setInputCol("embedding")
        .setIdCol("vec_id").setNLists(8).setNumSub(8).setNBits(8).fit(emb)
        .setK(5).setNProbe(6).setRerankK(100)
        .setQueries(queries, "vec_id", "embedding")
        .transform(emb)
        .select(col("query_id"),
          explode(col("neighbors.id")).as("neighbor_id"))
    }, oracle = None),

    // IVF-PQ exactness gate: exhaustive probe + full re-rank must equal
    // brute force (every candidate reaches the exact cosine re-rank, so
    // the PQ approximation cannot change the answer) — the knn_ivf_recall
    // pattern, hash-gated on constant per-query hit counts
    Gate("knn_ivfpq_recall", { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val n = emb.count().toInt
      val queries = emb.filter(col("vec_id") < 10)
      val pq = new graft.sim.IVFPQNearestNeighbors().setInputCol("embedding")
        .setIdCol("vec_id").setNLists(8).setNumSub(8).setNBits(4).fit(emb)
        .setK(5).setNProbe(8).setRerankK(n)
        .setQueries(queries, "vec_id", "embedding")
        .transform(emb)
        .select(col("query_id"), explode(col("neighbors.id")).as("id"))
      val bf = new NearestNeighbors().setInputCol("embedding")
        .setIdCol("vec_id").setK(5).setQueries(queries, "vec_id", "embedding")
        .transform(emb)
        .select(col("query_id"), explode(col("neighbors.id")).as("id"))
      bf.join(pq, Seq("query_id", "id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
        .select(col("query_id"), col("hits"), lit(5L).as("k"))
    }, oracle = Some(
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS hits,
        |  CAST(5 AS BIGINT) AS k
        |FROM embeddings WHERE vec_id < 10""".stripMargin))
  )
}
