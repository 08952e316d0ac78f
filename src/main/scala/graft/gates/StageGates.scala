package graft
package gates

import graft.featurize._
import graft.stages._
import graft.gates.GateSupport.tbl
import org.apache.spark.sql.functions._

/** Single-stage transformer gates (SURVEY.md §2.2, §2.11):
  * column plumbing, UDF, repartitioning and mini-batching stages. */
object StageGates {
  val gates: Seq[Gate] = Seq(
    Gate("select_columns", { (s, dir) =>
      new SelectColumns().setCols(Seq("p_partkey", "p_name", "p_retailprice"))
        .transform(tbl(s, dir, "part"))
    }, oracle = Some(
      "SELECT p_partkey, p_name, p_retailprice FROM part")),

    Gate("drop_columns", { (s, dir) =>
      new DropColumns().setCols(Seq("n_regionkey")).transform(tbl(s, dir, "nation"))
    }, oracle = Some(
      "SELECT n_nationkey, n_name FROM nation")),

    Gate("rename_column", { (s, dir) =>
      new RenameColumn().setInputCol("r_name").setOutputCol("region_name")
        .transform(tbl(s, dir, "region"))
    }, oracle = Some(
      "SELECT r_regionkey, r_name AS region_name FROM region")),

    Gate("explode_words", { (s, dir) =>
      new Explode().setInputCol("__words").setOutputCol("word")
        .transform(tbl(s, dir, "part")
          .withColumn("__words", split(col("p_type"), " ")))
        .select(col("p_partkey"), col("word"))
    }, oracle = Some(
      "SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word FROM part")),

    Gate("data_conversion", { (s, dir) =>
      val converted = new DataConversion().setCols(Seq("l_quantity"))
        .setConvertTo("integer")
        .transform(
          new DataConversion().setCols(Seq("l_shipdate")).setConvertTo("date")
            .setDateTimeFormat("yyyy-MM-dd")
            .transform(tbl(s, dir, "lineitem")))
      converted.select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_shipdate"))
    }, oracle = Some(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS INTEGER) AS l_quantity,
        |  strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate
        |FROM lineitem""".stripMargin)),

    Gate("lambda_udf", { (s, dir) =>
      val stage = new UDFTransformer().setInputCols(Seq("value"))
        .setOutputCol("value_x2").setExpr(cols => cols.head * 2.0)
      val lam = new Lambda().setTransform(df => df.filter(col("value") > 100.0))
      stage.transform(lam.transform(tbl(s, dir, "events")))
        .select(col("event_id"), col("value"), col("value_x2"))
    }, oracle = Some(
      """SELECT event_id, value, value * 2.0 AS value_x2
        |FROM events WHERE value > 100.0""".stripMargin)),

    Gate("repartition_stage", { (s, dir) =>
      new Repartition().setN(8).transform(
        tbl(s, dir, "events").select(col("event_id"), col("event_type")))
    }, oracle = Some(
      "SELECT event_id, event_type FROM events")),

    Gate("partition_consolidator", { (s, dir) =>
      new PartitionConsolidator().transform(
        tbl(s, dir, "events").select(col("event_id"), col("event_type"), col("value")))
    }, oracle = Some(
      "SELECT event_id, event_type, value FROM events")),

    Gate("stratified_repartition", { (s, dir) =>
      new StratifiedRepartition().setLabelCol("event_type").setMode("original")
        .transform(tbl(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("props")))
    }, oracle = Some(
      "SELECT event_id, user_id, event_type, value, props FROM events")),

    Gate("minibatch_roundtrip", { (s, dir) =>
      val batched = new FixedMiniBatchTransformer().setBatchSize(32)
        .transform(tbl(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value")))
      new FlattenBatch().transform(batched)
    }, oracle = Some(
      "SELECT event_id, event_type, value FROM events"))
  )
}
