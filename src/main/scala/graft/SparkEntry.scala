package graft

import graft.gates.GateRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7. Both maps derive from
  * [[graft.gates.GateRegistry]]; a gate is one [[graft.gates.Gate]] in
  * its family file under `graft/gates/`. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every gate's query, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    GateRegistry.all.map(g => g.name -> g.query).toMap

  /** The DuckDB oracle of every gate that has one, by name. */
  def oracleSql: Map[String, String] =
    GateRegistry.all.flatMap(g => g.oracle.map(g.name -> _)).toMap
}
