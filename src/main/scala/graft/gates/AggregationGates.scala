package graft
package gates

import graft.featurize._
import graft.stages._
import graft.gates.GateSupport.tbl
import org.apache.spark.sql.functions._

/** Aggregation gates (SURVEY.md §2.4): summary statistics,
  * class balancing, per-key ensembles, missing-data cleaning and value
  * indexing. */
object AggregationGates {
  val gates: Seq[Gate] = Seq(
    Gate("summarize_counts", { (s, dir) =>
      new SummarizeData().setComputeBasic(false).setComputeSample(false)
        .setExactUnique(true)
        .transform(tbl(s, dir, "lineitem")
          .select(col("l_quantity"), col("l_discount"), col("l_returnflag")))
    }, oracle = Some(
      """SELECT 'l_quantity' AS Feature, CAST(count(l_quantity) AS DOUBLE) AS count,
        |  CAST(count(DISTINCT l_quantity) AS DOUBLE) AS "unique",
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS missing
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_discount', CAST(count(l_discount) AS DOUBLE),
        |  CAST(count(DISTINCT l_discount) AS DOUBLE),
        |  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', CAST(count(l_returnflag) AS DOUBLE),
        |  CAST(count(DISTINCT l_returnflag) AS DOUBLE),
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |FROM lineitem""".stripMargin)),

    // concurrent per-column jobs deliberately kept (NOT singlePass): with
    // exactUnique the wide single-agg plans one Expand row per distinct
    // aggregate — a ×5 blowup of the scan, measured 2.6× slower than the
    // 4 concurrent per-column jobs at sf0.1. Round-6's 2.9→5.1 s bench
    // drift on this query was suite-position JIT/GC, not plan change:
    // isolated wall (fresh JVM, bench attribution) matches round 5 and
    // stage/task/shuffle counts are identical.
    Gate("summarize_full", { (s, dir) => // exact counts + decimal-sum moments
      new SummarizeData().setExactUnique(true).setComputeBasic(false)
        .setExactMoments(true)
        .transform(tbl(s, dir, "lineitem")
          .select("l_quantity", "l_discount", "l_tax", "l_returnflag"))
    }, oracle = Some {
      // exact decimal-power-sum moments, formulas mirrored term-by-term
      def statsFor(c: String): String =
        s"""SELECT '$c' AS "Feature", n AS "count", u AS "unique",
           |  miss AS "missing",
           |  s1 / n AS mean,
           |  (s2 - n * ((s1/n) * (s1/n))) / (n - 1.0) AS variance,
           |  SQRT((s2 - n * ((s1/n) * (s1/n))) / (n - 1.0)) AS stddev,
           |  (s3/n - 3.0 * (s1/n) * (s2/n) + 2.0 * (s1/n) * (s1/n) * (s1/n))
           |    / ((s2/n - (s1/n)*(s1/n)) * SQRT(s2/n - (s1/n)*(s1/n)))
           |    AS skewness,
           |  (s4/n - 4.0 * (s1/n) * (s3/n) + 6.0 * ((s1/n)*(s1/n)) * (s2/n)
           |    - 3.0 * (((s1/n)*(s1/n)) * ((s1/n)*(s1/n))))
           |    / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3.0
           |    AS kurtosis
           |FROM (
           |  SELECT CAST(COUNT(x) AS DOUBLE) AS n,
           |    CAST(COUNT(DISTINCT x) AS DOUBLE) AS u,
           |    CAST(SUM(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS miss,
           |    CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) AS s1,
           |    CAST(SUM(CAST(x*x AS DECIMAL(30,8))) AS DOUBLE) AS s2,
           |    CAST(SUM(CAST((x*x)*x AS DECIMAL(30,8))) AS DOUBLE) AS s3,
           |    CAST(SUM(CAST((x*x)*(x*x) AS DECIMAL(30,8))) AS DOUBLE) AS s4
           |  FROM (SELECT CAST($c AS DOUBLE) AS x FROM lineitem))""".stripMargin
      Seq("l_quantity", "l_discount", "l_tax").map(statsFor)
        .mkString("", "\nUNION ALL\n", "\nUNION ALL\n") +
        """SELECT 'l_returnflag' AS "Feature",
          |  CAST(COUNT(l_returnflag) AS DOUBLE) AS "count",
          |  CAST(COUNT(DISTINCT l_returnflag) AS DOUBLE) AS "unique",
          |  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
          |    AS DOUBLE) AS "missing",
          |  CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS variance,
          |  CAST(NULL AS DOUBLE) AS stddev, CAST(NULL AS DOUBLE) AS skewness,
          |  CAST(NULL AS DOUBLE) AS kurtosis
          |FROM lineitem""".stripMargin
    }),

    Gate("class_balancer", { (s, dir) =>
      val events = tbl(s, dir, "events")
      new ClassBalancer().setInputCol("event_type").setOutputCol("weight")
        .fit(events).transform(events)
        .select(col("event_id"), col("event_type"), col("weight"))
    }, oracle = Some(
      """WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type),
        |m AS (SELECT max(cnt) AS mx FROM c)
        |SELECT e.event_id, e.event_type, CAST(m.mx AS DOUBLE) / c.cnt AS weight
        |FROM events e JOIN c ON e.event_type = c.event_type CROSS JOIN m""".stripMargin)),

    Gate("ensemble_by_key", { (s, dir) =>
      new EnsembleByKey().setKeys(Seq("user_id")).setCols(Seq("value"))
        .setColNames(Seq("mean_value"))
        .transform(tbl(s, dir, "events"))
    }, oracle = Some(
      """SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / COUNT(value) AS mean_value
        |FROM events GROUP BY user_id""".stripMargin)),

    Gate("clean_missing_data", { (s, dir) =>
      val events = tbl(s, dir, "events")
      new CleanMissingData().setInputCols(Seq("value")).setCleaningMode("Mean")
        .fit(events).transform(events)
        .select(col("event_id"), col("value"))
    }, oracle = Some(
      """SELECT event_id, COALESCE(value,
        |  (SELECT CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / COUNT(value)
        |   FROM events)) AS value
        |FROM events""".stripMargin)),

    Gate("value_indexer", { (s, dir) =>
      val events = tbl(s, dir, "events")
      new ValueIndexer().setInputCol("event_type").setOutputCol("event_type_idx")
        .fit(events).transform(events)
        .select(col("event_id"), col("event_type"), col("event_type_idx"))
    }, oracle = Some(
      """WITH lv AS (SELECT event_type AS v,
        |  CAST(row_number() OVER (ORDER BY event_type) - 1 AS INTEGER) AS idx
        |  FROM (SELECT DISTINCT event_type FROM events))
        |SELECT e.event_id, e.event_type, lv.idx AS event_type_idx
        |FROM events e JOIN lv ON e.event_type = lv.v""".stripMargin)),

    Gate("index_to_value", { (s, dir) =>
      val events = tbl(s, dir, "events")
      val indexed = new ValueIndexer().setInputCol("event_type")
        .setOutputCol("event_type_idx").fit(events).transform(events)
      new IndexToValue().setInputCol("event_type_idx").setOutputCol("event_type_rt")
        .transform(indexed)
        .select(col("event_id"), col("event_type"), col("event_type_rt"))
    }, oracle = Some(
      "SELECT event_id, event_type, event_type AS event_type_rt FROM events"))
  )
}
