package graft
package gates

import graft.gates.GateSupport.tbl
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Anomaly-detection gates: isolation forest (SURVEY.md
  * §2.13), spectral-residual saliency and native ESD (§2.12). */
object AnomalyGates {
  val gates: Seq[Gate] = Seq(
    // Planted-anomaly exact gate (dedup_simhash_exact pattern): plant
    // unmistakable outliers (x100 + 5000 vs an inlier range of [0, 490]),
    // fit a seeded forest, and assert the top-|planted| scored rows ARE
    // the planted set — symmetric-difference count, constant-0 oracle.
    // AnomalySuite's margin test keeps the fixture far from the
    // decision boundary (score separation, not a tuned threshold).
    Gate("isolation_forest", { (s, dir) =>
      // Fixed-size input (access_anomaly's pattern) + ~1% planted + a
      // 256-point subsample: a tree only ranks an extreme inlier below
      // the planted set if its subsample contains a planted point (the
      // split range must cover the gap); at this density P(no planted in
      // a subsample) ~ 7%, so ~46 of 50 trees separate — scale-invariant
      // and far from any path-length tie, unlike sampling 128 of the
      // full corpus where planted density falls with sf.
      val planted = pmod(col("event_id"), lit(97)) === 0
      val ev = tbl(s, dir, "events").select(col("event_id"), col("value"))
        .filter(col("event_id") < 2000)
        .withColumn("v",
          when(planted, col("value") * 100 + 5000.0).otherwise(col("value")))
      val m = new graft.anomaly.IsolationForest()
        .setInputCols(Seq("v"))
        .setNumTrees(50).setSubsampleSize(256).fit(ev)
      val nPlanted = ev.filter(planted).count().toInt
      val detected = m.transform(ev)
        .orderBy(col("anomaly_score").desc, col("event_id"))
        .limit(nPlanted).select("event_id")
      detected.union(ev.filter(planted).select("event_id"))
        .groupBy("event_id").count().filter(col("count") =!= 2)
        .agg(count(lit(1)).cast("long").as("mismatches"))
    }, oracle = Some(
      // planted-anomaly symmetric differences are exactly empty
      "SELECT CAST(0 AS BIGINT) AS mismatches")),

    // ---- spectral-residual saliency (§2.12, Ren et al. KDD'19) ------

    // Planted-spike exact gate (isolation_forest pattern): per-user
    // closed-form series — flat base with unmistakable +1000 spikes every
    // 37th point — run the real FFT saliency detector, assert detected ==
    // planted by symmetric difference, constant-0 oracle. SRSuite's
    // margin test keeps spike scores far above / base scores far below
    // the threshold on this construction.
    Gate("sr_anomalies", { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val planted = col("rk") === 29
      val ev = tbl(s, dir, "events").select("event_id", "user_id")
        .withColumn("rk", row_number().over(w))
        .withColumn("value", when(planted, 1100.0).otherwise(100.0))
      val detected = new graft.anomaly.SRAnomalyDetector()
        .setInputCol("value").setOrderCol("event_id")
        .setGroupCols(Array("user_id")).setThreshold(3.0)
        .transform(ev)
        .filter(col("is_anomaly")).select("user_id", "event_id")
      detected.union(ev.filter(planted).select("user_id", "event_id"))
        .groupBy("user_id", "event_id").count().filter(col("count") =!= 2)
        .agg(count(lit(1)).cast("long").as("mismatches"))
    }, oracle = Some(
      // planted-anomaly symmetric differences are exactly empty
      "SELECT CAST(0 AS BIGINT) AS mismatches")),

    // ---- native ESD anomaly detection (§2.12 DetectAnomalies) -------

    // per-user series over exact cent-scaled values; fixed critical
    // values so the full iterative verdict is SQL-expressible
    Gate("detect_anomalies", { (s, dir) =>
      new graft.anomaly.ESDAnomalyDetector().setInputCol("__cents")
        .setIdCol("event_id").setGroupCols(Array("user_id"))
        .setMaxAnomalies(3).setCriticalValues(Array(3.5, 3.5, 3.5))
        .transform(tbl(s, dir, "events")
          .withColumn("__cents", round(col("value") * 100)))
        .filter(col("is_anomaly"))
        .select(col("user_id"), col("iter"), col("event_id"))
    }, oracle = Some(
      // generalized ESD, k=3 iterations unrolled; arithmetic mirrors the
      // Spark side exactly (decimal sums -> double, fixed-order ops)
      """WITH pts AS (
        |  SELECT user_id, event_id, round(value*100) AS x FROM events),
        |s1 AS (
        |  SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(x*x AS DECIMAL(30,8))) AS DOUBLE) AS q
        |  FROM pts GROUP BY user_id),
        |d1 AS (
        |  SELECT p.user_id, p.event_id, s.n, s.s, s.q,
        |    ABS(s.n * p.x - s.s) AS dev,
        |    ROW_NUMBER() OVER (PARTITION BY p.user_id
        |      ORDER BY ABS(s.n * p.x - s.s) DESC, p.event_id) AS rn
        |  FROM pts p JOIN s1 s USING (user_id)),
        |a1 AS (
        |  SELECT user_id, event_id, 1 AS iter,
        |    dev / (n * SQRT((n*q - s*s) / (n * (n - 1.0)))) AS r
        |  FROM d1 WHERE rn = 1),
        |p1 AS (
        |  SELECT p.* FROM pts p ANTI JOIN a1 a
        |    ON p.user_id = a.user_id AND p.event_id = a.event_id),
        |s2 AS (
        |  SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(x*x AS DECIMAL(30,8))) AS DOUBLE) AS q
        |  FROM p1 GROUP BY user_id),
        |d2 AS (
        |  SELECT p.user_id, p.event_id, s.n, s.s, s.q,
        |    ABS(s.n * p.x - s.s) AS dev,
        |    ROW_NUMBER() OVER (PARTITION BY p.user_id
        |      ORDER BY ABS(s.n * p.x - s.s) DESC, p.event_id) AS rn
        |  FROM p1 p JOIN s2 s USING (user_id)),
        |a2 AS (
        |  SELECT user_id, event_id, 2 AS iter,
        |    dev / (n * SQRT((n*q - s*s) / (n * (n - 1.0)))) AS r
        |  FROM d2 WHERE rn = 1),
        |p2 AS (
        |  SELECT p.* FROM p1 p ANTI JOIN a2 a
        |    ON p.user_id = a.user_id AND p.event_id = a.event_id),
        |s3 AS (
        |  SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(x*x AS DECIMAL(30,8))) AS DOUBLE) AS q
        |  FROM p2 GROUP BY user_id),
        |d3 AS (
        |  SELECT p.user_id, p.event_id, s.n, s.s, s.q,
        |    ABS(s.n * p.x - s.s) AS dev,
        |    ROW_NUMBER() OVER (PARTITION BY p.user_id
        |      ORDER BY ABS(s.n * p.x - s.s) DESC, p.event_id) AS rn
        |  FROM p2 p JOIN s3 s USING (user_id)),
        |a3 AS (
        |  SELECT user_id, event_id, 3 AS iter,
        |    dev / (n * SQRT((n*q - s*s) / (n * (n - 1.0)))) AS r
        |  FROM d3 WHERE rn = 1),
        |tr AS (
        |  SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3),
        |last AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN r > 3.5 THEN iter ELSE 0 END) AS li
        |  FROM tr GROUP BY user_id)
        |SELECT t.user_id, t.iter, t.event_id
        |FROM tr t JOIN last l USING (user_id)
        |WHERE t.iter <= l.li""".stripMargin))
  )
}
