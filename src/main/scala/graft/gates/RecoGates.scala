package graft
package gates

import graft.gates.GateSupport.tbl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ranking train/validation-split gate fixture shared by the ranking_tvs
  * query and RecoSuite's margin test. Constructed so JACCARD similarity
  * strictly beats LIFT on held-out NDCG@5, deterministically:
  *  - users 1-4 hold out item 1 (their rating-5 head); item 1 trains only
  *    with users 5-8, so jaccard(1,2)=4/8 is strong while lift(1,·)
  *    divides by item 2's popularity (occ 8) and collapses;
  *  - decoy item 20 co-occurs once with items 3,4 via user 9 — lift's
  *    popularity normalization ranks the rare decoy ABOVE ground-truth
  *    item 1 for users 1-4 (1/7 vs sum 0.268/3-way), jaccard does not;
  *  - all scores are exact count ratios decimal-summed, ties broken on
  *    item id, so per-user NDCG is a closed-form constant (hand-derived
  *    in the oracle: jaccard (8/log2(5)+0.5)/9 -> 4384, lift
  *    (4/log2(6)+5/log2(5))/9 -> 4112 after floor(x*1e4+0.5)).
  */
private[graft] object RankingGateFixture {
  // (user, item, rating): 4 items per user => holdout = top-1 by rating
  val Rows: Seq[(Long, Int, Double)] =
    (1L to 4L).flatMap(u =>
      Seq((u, 1, 5.0), (u, 2, 3.0), (u, 3, 3.0), (u, 4, 3.0))) ++
    (5L to 6L).flatMap(u =>
      Seq((u, 3, 5.0), (u, 1, 3.0), (u, 2, 3.0), (u, 4, 3.0))) ++
    (7L to 8L).flatMap(u =>
      Seq((u, 4, 5.0), (u, 1, 3.0), (u, 2, 3.0), (u, 3, 3.0))) ++
    Seq((9L, 2, 5.0), (9L, 3, 3.0), (9L, 4, 3.0), (9L, 20, 3.0))

  def df(s: SparkSession): DataFrame = {
    import s.implicits._
    Rows.toDF("user", "item", "rating")
  }
}

/** Recommendation gates (SURVEY.md §2.4, §2.13): SAR and
  * ranking evaluation. */
object RecoGates {
  val gates: Seq[Gate] = Seq(
    Gate("sar_item_similarity", { (s, dir) =>
      new graft.reco.SAR().setUserCol("user_id").setItemCol("event_type")
        .setRatingCol("value").setSimilarityFunction("jaccard")
        .calculateItemItemSimilarity(tbl(s, dir, "events"))
    }, oracle = Some(
      """WITH pairs AS (SELECT DISTINCT user_id AS u, event_type AS itm FROM events),
        |occ AS (SELECT itm, COUNT(*) AS occ FROM pairs GROUP BY itm),
        |co AS (SELECT a.itm AS i1, b.itm AS i2, COUNT(*) AS cooc
        |       FROM pairs a JOIN pairs b ON a.u = b.u GROUP BY 1, 2)
        |SELECT i1, i2,
        |  CAST(cooc AS DOUBLE) / (o1.occ + o2.occ - cooc) AS similarity
        |FROM co
        |JOIN occ o1 ON co.i1 = o1.itm
        |JOIN occ o2 ON co.i2 = o2.itm""".stripMargin)),

    Gate("sar_affinity", { (s, dir) =>
      new graft.reco.SAR().setUserCol("user_id").setItemCol("event_type")
        .setRatingCol("value").setTimeCol("ts").setDecayHalfLifeDays(30)
        .calculateUserItemAffinities(tbl(s, dir, "events"))
    }, oracle = Some(
      // whole-day halving exponent => exact power-of-two scaling, so the
      // double product is bit-identical in Spark and DuckDB; DECIMAL sums
      // make the aggregation order-independent
      """WITH d AS (SELECT user_id, event_type, value,
        |    FLOOR(FLOOR(epoch(ts)) / 86400.0) AS day FROM events),
        |m AS (SELECT MAX(day) AS maxday FROM d)
        |SELECT user_id AS "user", event_type AS item,
        |  CAST(SUM(CAST(value * POWER(0.5, FLOOR((m.maxday - d.day) / 30.0))
        |    AS DECIMAL(30,10))) AS DOUBLE) AS affinity
        |FROM d CROSS JOIN m
        |GROUP BY user_id, event_type""".stripMargin)),

    Gate("sar_recommend", { (s, dir) =>
      val model = new graft.reco.SAR().setUserCol("user_id")
        .setItemCol("event_type").setRatingCol("value")
        .setTimeCol("ts").setDecayHalfLifeDays(30)
        .setSimilarityFunction("jaccard")
        .fit(tbl(s, dir, "events"))
      model.recommendForAllUsers(3, removeSeen = false)
        .withColumn("rank", col("rank").cast("int"))
    }, oracle = Some(
      """WITH d AS (SELECT user_id, event_type, value,
        |    FLOOR(FLOOR(epoch(ts)) / 86400.0) AS day FROM events),
        |m AS (SELECT MAX(day) AS maxday FROM d),
        |aff AS (SELECT user_id AS u, event_type AS itm,
        |  CAST(SUM(CAST(value * POWER(0.5, FLOOR((m.maxday - d.day) / 30.0))
        |    AS DECIMAL(30,10))) AS DOUBLE) AS affinity
        |  FROM d CROSS JOIN m GROUP BY user_id, event_type),
        |pairs AS (SELECT DISTINCT user_id AS u, event_type AS itm FROM events),
        |occ AS (SELECT itm, COUNT(*) AS occ FROM pairs GROUP BY itm),
        |co AS (SELECT a.itm AS i1, b.itm AS i2, COUNT(*) AS cooc
        |       FROM pairs a JOIN pairs b ON a.u = b.u GROUP BY 1, 2),
        |sim AS (SELECT i1, i2,
        |  CAST(cooc AS DOUBLE) / (o1.occ + o2.occ - cooc) AS similarity
        |  FROM co JOIN occ o1 ON co.i1 = o1.itm JOIN occ o2 ON co.i2 = o2.itm),
        |scored AS (SELECT aff.u AS "user", sim.i2 AS item,
        |  CAST(SUM(CAST(aff.affinity * sim.similarity AS DECIMAL(30,10)))
        |    AS DOUBLE) AS score
        |  FROM aff JOIN sim ON aff.itm = sim.i1 GROUP BY aff.u, sim.i2)
        |SELECT "user", item, score, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY "user" ORDER BY score DESC, item) AS rank
        |  FROM scored) WHERE rank <= 3""".stripMargin)),

    // Deterministic grid gate over RankingTrainValidationSplit: on the
    // RankingGateFixture graph, jaccard strictly dominates lift on
    // held-out NDCG@5 (see the fixture's Scaladoc for the closed-form
    // derivation); gate both candidates' quantized NDCG plus the winner.
    Gate("ranking_tvs", { (s, dir) =>
      val r = new graft.reco.RankingTrainValidationSplit()
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
        .setK(5).setHoldoutFraction(0.25)
        .setGrid(Seq(("jaccard", 30), ("lift", 30)))
        .fit(RankingGateFixture.df(s))
      val best = r.bestParams("similarityFunction").toString
      r.results.select(col("similarity"),
          col("half_life").cast("int").as("half_life"),
          floor(col("ndcg_at_k") * 1e4 + 0.5).cast("long").as("ndcg_q"),
          (col("similarity") === lit(best)).cast("int").as("is_best"))
    }, oracle = Some(
      // closed-form NDCG constants from the RankingGateFixture derivation:
      // jaccard mean = (8/log2(5) + 0.5)/9, lift mean = (4/log2(6) +
      // (4+1)/log2(5))/9, quantized with the shared floor(x*1e4+0.5)
      """SELECT 'jaccard' AS similarity, CAST(30 AS INTEGER) AS half_life,
        |       CAST(floor((8/log2(5) + 0.5)/9 * 1e4 + 0.5) AS BIGINT) AS ndcg_q,
        |       CAST(1 AS INTEGER) AS is_best
        |UNION ALL
        |SELECT 'lift', CAST(30 AS INTEGER),
        |       CAST(floor((4/log2(6) + 5/log2(5))/9 * 1e4 + 0.5) AS BIGINT),
        |       CAST(0 AS INTEGER)""".stripMargin)),

    Gate("ranking_ground_truth", { (s, dir) =>
      // exploded (user, rn, item) scalar rows: the driver's checker can't
      // sort list columns, so flatten the ground-truth arrays positionally
      new graft.reco.RankingAdapter().setUserCol("user_id")
        .setItemCol("event_type").setRatingCol("value").setK(3)
        .transform(tbl(s, dir, "events"))
        .select(col("user"), posexplode(col("ground_truth")).as(Seq("pos", "item")))
        .select(col("user"), (col("pos") + 1).cast("int").as("rn"), col("item"))
    }, oracle = Some(
      """SELECT user_id AS "user", CAST(rn AS INTEGER) AS rn,
        |       event_type AS item
        |FROM (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY value DESC, event_type) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin)),

    Gate("ranking_metrics", { (s, dir) => // per-user metrics (deterministic)
      val events = tbl(s, dir, "events")
      val gt = new graft.reco.RankingAdapter().setUserCol("user_id")
        .setItemCol("event_type").setRatingCol("value").setK(3)
        .transform(events)
      val model = new graft.reco.SAR().setUserCol("user_id")
        .setItemCol("event_type").setRatingCol("value").fit(events)
      val recs = model.recommendForAllUsers(3, removeSeen = false)
        .groupBy("user")
        .agg(sort_array(collect_list(struct(col("rank"), col("item"))))
          .getField("item").as("recommendations"))
      new graft.reco.RankingEvaluator().setK(3).setPerUserMetrics(true)
        .transform(recs.join(gt, "user"))
        .withColumn("user", col("user").cast("long"))
    }, oracle = Some(
      // per-user ranking metrics over the no-decay SAR recs + adapter ground
      // truth; every metric rounded to 9 dp on both sides so last-ulp log /
      // sum-order differences cannot surface
      """WITH aff AS (SELECT user_id AS u, event_type AS itm,
        |    CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS affinity
        |  FROM events GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT user_id AS u, event_type AS itm FROM events),
        |occ AS (SELECT itm, COUNT(*) AS occ FROM pairs GROUP BY itm),
        |co AS (SELECT a.itm AS i1, b.itm AS i2, COUNT(*) AS cooc
        |       FROM pairs a JOIN pairs b ON a.u = b.u GROUP BY 1, 2),
        |sim AS (SELECT i1, i2,
        |  CAST(cooc AS DOUBLE) / (o1.occ + o2.occ - cooc) AS similarity
        |  FROM co JOIN occ o1 ON co.i1 = o1.itm JOIN occ o2 ON co.i2 = o2.itm),
        |scored AS (SELECT aff.u, sim.i2 AS item,
        |  CAST(SUM(CAST(aff.affinity * sim.similarity AS DECIMAL(30,10)))
        |    AS DOUBLE) AS score
        |  FROM aff JOIN sim ON aff.itm = sim.i1 GROUP BY 1, 2),
        |recs AS (SELECT u, item, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY u ORDER BY score DESC, item) AS rank
        |  FROM scored) WHERE rank <= 3),
        |gtd AS (SELECT DISTINCT user_id AS u, event_type AS item FROM (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY value DESC, event_type) AS rn
        |  FROM events) WHERE rn <= 3),
        |nrel AS (SELECT u, COUNT(*) AS nrel FROM gtd GROUP BY u),
        |rel AS (SELECT r.u, r.rank,
        |    CASE WHEN g.item IS NOT NULL THEN 1 ELSE 0 END AS rel
        |  FROM recs r LEFT JOIN gtd g ON r.u = g.u AND r.item = g.item),
        |cum AS (SELECT u, rank, rel,
        |    SUM(rel) OVER (PARTITION BY u ORDER BY rank) AS hits_so_far
        |  FROM rel),
        |per AS (SELECT c.u,
        |    SUM(c.rel) AS hits,
        |    SUM(CASE WHEN c.rel = 1
        |      THEN CAST(c.hits_so_far AS DOUBLE) / c.rank ELSE 0.0 END) AS ap_sum,
        |    SUM(CASE WHEN c.rel = 1
        |      THEN 1.0 / (ln(c.rank + 1) / ln(2.0)) ELSE 0.0 END) AS dcg,
        |    MAX(CASE WHEN c.rel = 1 AND c.hits_so_far = 1
        |      THEN 1.0 / c.rank ELSE 0.0 END) AS rr
        |  FROM cum c GROUP BY c.u)
        |SELECT p.u AS "user",
        |  round(CAST(p.hits AS DOUBLE) / 3, 9) + 0.0 AS precision_at_k,
        |  round(CAST(p.hits AS DOUBLE) / n.nrel, 9) + 0.0 AS recall_at_k,
        |  round(p.ap_sum / LEAST(n.nrel, 3), 9) + 0.0 AS ap,
        |  round(p.dcg / (CASE LEAST(n.nrel, 3)
        |    WHEN 1 THEN 1.0 / (ln(2.0) / ln(2.0))
        |    WHEN 2 THEN 1.0 / (ln(2.0) / ln(2.0)) + 1.0 / (ln(3.0) / ln(2.0))
        |    ELSE 1.0 / (ln(2.0) / ln(2.0)) + 1.0 / (ln(3.0) / ln(2.0))
        |      + 1.0 / (ln(4.0) / ln(2.0)) END), 9) + 0.0 AS ndcg_at_k,
        |  round(p.rr, 9) + 0.0 AS rr,
        |  CAST(CASE WHEN p.hits > 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS hit
        |FROM per p JOIN nrel n ON p.u = n.u""".stripMargin))
  )
}
