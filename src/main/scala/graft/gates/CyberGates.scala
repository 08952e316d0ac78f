package graft
package gates

import graft.gates.GateSupport.tbl
import org.apache.spark.sql.functions._

/** Cyber gates (SURVEY.md §2.4: per-tenant ops): scalers,
  * indexers, complement sampling and access anomalies. */
object CyberGates {
  val gates: Seq[Gate] = Seq(
    Gate("cyber_std_scaler", { (s, dir) =>
      new graft.cyber.PerTenantStandardScaler().setTenantCol("event_type")
        .setInputCol("value").setOutputCol("z")
        .transform(tbl(s, dir, "events"))
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
    }, oracle = Some(
      // mirrors PerTenantStandardScaler's exact arithmetic: decimal partial
      // sums -> double mean / unbiased std -> one subtraction and division
      """WITH s AS (SELECT event_type,
        |    COUNT(value) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sm,
        |    CAST(SUM(CAST(value * value AS DECIMAL(38,8))) AS DOUBLE) AS sq
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN s.n <= 1 OR (s.sq - s.sm * s.sm / s.n) <= 0 THEN 0.0
        |       ELSE (e.value - s.sm / s.n)
        |            / SQRT((s.sq - s.sm * s.sm / s.n) / (s.n - 1)) END AS z
        |FROM events e JOIN s ON e.event_type = s.event_type""".stripMargin)),

    Gate("cyber_minmax_scaler", { (s, dir) =>
      new graft.cyber.PerTenantMinMaxScaler().setTenantCol("event_type")
        .setInputCol("value").setOutputCol("scaled")
        .transform(tbl(s, dir, "events"))
        .select(col("event_id"), col("event_type"), col("value"), col("scaled"))
    }, oracle = Some(
      """WITH s AS (SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN s.hi = s.lo THEN 0.0
        |       ELSE (e.value - s.lo) / (s.hi - s.lo) END AS scaled
        |FROM events e JOIN s ON e.event_type = s.event_type""".stripMargin)),

    Gate("cyber_id_indexer", { (s, dir) =>
      new graft.cyber.PerTenantIdIndexer().setTenantCol("event_type")
        .setInputCol("user_id").setOutputCol("uid")
        .transform(tbl(s, dir, "events"))
        .select(col("event_id"), col("event_type"), col("user_id"), col("uid"))
    }, oracle = Some(
      """SELECT event_id, event_type, user_id,
        |  CAST(dense_rank() OVER (
        |    PARTITION BY event_type ORDER BY user_id) AS INTEGER) AS uid
        |FROM events""".stripMargin)),

    Gate("cyber_complement", { (s, dir) =>
      new graft.cyber.ComplementAccessTransformer().setTenantCol("event_type")
        .setUserCol("user_id").setResCol("res")
        .transform(tbl(s, dir, "events")
          .withColumn("res", pmod(col("value").cast("int"), lit(10))))
        .select(col("event_type"), col("user_id"), col("res"))
    }, oracle = Some(
      """WITH obs AS (SELECT DISTINCT event_type,
        |    user_id, CAST(TRUNC(value) AS INTEGER) % 10 AS res FROM events),
        |u AS (SELECT DISTINCT event_type, user_id FROM obs),
        |r AS (SELECT DISTINCT event_type, res FROM obs)
        |SELECT u.event_type, u.user_id, r.res
        |FROM u JOIN r ON u.event_type = r.event_type
        |LEFT JOIN obs ON obs.event_type = u.event_type
        |  AND obs.user_id = u.user_id AND obs.res = r.res
        |WHERE obs.user_id IS NULL""".stripMargin)),

    Gate("access_anomaly", { (s, dir) => // rows-only: ALS scores
      // gate-latency hygiene: rows-only output is iteration-invariant
      // (the driver records rows+schema only here), so a single ALS
      // iteration suffices; score exactness lives in the margin-tested
      // access_anomaly_planted companion below (maxIter 5)
      new graft.cyber.AccessAnomaly().setTenantCol("event_type")
        .setUserCol("user_id").setResCol("res").setRank(4).setMaxIter(1)
        .setNumBlocks(2) // gate-scale: input capped at 2000 rows
        .transform(tbl(s, dir, "events")
          .filter(col("event_id") < 2000)
          .withColumn("res", pmod(col("value").cast("int"), lit(10))))
        .select(col("event_type"), col("user_id"), col("res"))
    }, oracle = None),

    // Planted-access exact companion gate (isolation_forest pattern) for
    // the rows-only ALS query above. Closed two-community access graph
    // from a FIXED event_id range (ids 0..999 are identical at every sf):
    // user = id%20 (communities 0-9 and 10-19), res = (id/20)%5 offset
    // into the community's 5 home resources — every user hits each home
    // resource 10x. Four single cross-community accesses are planted; the
    // ALS embedding confines each community to its own factor subspace,
    // so the planted pairs' predictions sit far below every intra pair
    // (CyberSuite margin-tests the score gap). Gate = symmetric
    // difference between the top-4 anomaly-scored pairs and the planted
    // set, constant-0 oracle.
    Gate("access_anomaly_planted", { (s, dir) =>
      import s.implicits._
      val base = tbl(s, dir, "events").filter(col("event_id") < 1000)
        .select(pmod(col("event_id"), lit(20)).cast("int").as("user"),
          (pmod(floor(col("event_id") / 20), lit(5)) +
            lit(5) * floor(pmod(col("event_id"), lit(20)) / 10))
            .cast("int").as("res"))
      val plantedPairs = Seq((0, 7), (3, 9), (12, 1), (17, 4))
      val planted = plantedPairs.toDF("user", "res")
      val scored = new graft.cyber.AccessAnomaly().setTenantCol("tenant")
        .setUserCol("user").setResCol("res").setRank(4).setMaxIter(5)
        .setNumBlocks(2)
        .transform(base.union(planted).withColumn("tenant", lit(0)))
      val top = scored
        .orderBy(col("anomaly_score").desc, col("user"), col("res"))
        .limit(plantedPairs.size).select("user", "res")
      top.union(planted.select(col("user").cast("int"), col("res").cast("int")))
        .groupBy("user", "res").count().filter(col("count") =!= 2)
        .agg(count(lit(1)).cast("long").as("mismatches"))
    }, oracle = Some(
      // planted-anomaly symmetric differences are exactly empty
      "SELECT CAST(0 AS BIGINT) AS mismatches"))
  )
}
