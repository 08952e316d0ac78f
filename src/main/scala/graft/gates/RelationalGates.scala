package graft
package gates

import graft.gates.GateSupport.tbl
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / plan-shaping headline gates: TPC-H-shaped
  * filters, joins and aggregations with exact decimal sums. */
object RelationalGates {
  val gates: Seq[Gate] = Seq(
    Gate("q1_pricing_summary", { (s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)"))
            .cast("double").as("sum_disc_price"),
          sum(((col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * (lit(1.0) + col("l_tax")))
            .cast("decimal(18,6)")).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
    }, oracle = Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    Gate("q3_shipping_priority", { (s, dir) =>
      val cutoff = lit("1996-03-15").cast("timestamp")
      val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      val l = tbl(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
    }, oracle = Some(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin)),

    Gate("q5_region_revenue", { (s, dir) =>
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val region = broadcast(tbl(s, dir, "region").filter(col("r_name") === "ASIA"))
      val nation = broadcast(tbl(s, dir, "nation"))
      val cust = tbl(s, dir, "customer")
      val supp = tbl(s, dir, "supplier")
      val ord = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      val li = tbl(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
    }, oracle = Some(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin)),

    Gate("window_topk_per_user", { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      tbl(s, dir, "events")
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("value"), col("rn"))
    }, oracle = Some(
      """SELECT user_id, event_id, value, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin))
  )
}
