package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver gate: a query over the test-data tables in a directory,
  * and the ANSI SQL that DuckDB runs on the same parquet tables to
  * reproduce its rows. `oracle = None` marks a rows-only gate, whose
  * result is not SQL-expressible and is checked by its own companion
  * gate or suite instead.
  *
  * Determinism discipline for the DuckDB-oracle hash compare:
  *   - integer / string / timestamp outputs are exact;
  *   - sums over fixed-decimal data go through `cast(decimal(·,s))` (exact,
  *     order-independent) and are emitted `cast("double")`;
  *   - means use [[graft.core.Determinism.deterministicMean]] (exact decimal
  *     sum, one double divide) — bit-identical in Spark and DuckDB;
  *   - every computed column is aliased identically in Spark and oracle SQL.
  */
final case class Gate(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Every gate, family by family. Building it runs no Spark work: a
  * query is a closure and an oracle is a string. */
object GateRegistry {
  lazy val all: Seq[Gate] = of(
    RelationalGates.gates ++ StageGates.gates ++ AggregationGates.gates ++
      TextGates.gates ++ DedupGates.gates ++ ClusteringGates.gates ++
      SimilarityGates.gates ++ TrainGates.gates ++ RecoGates.gates ++
      ExplainerGates.gates ++ CyberGates.gates ++ AutoMLGates.gates ++
      HttpGates.gates ++ StreamingGates.gates ++ MultimodalGates.gates ++
      AnomalyGates.gates ++ PipelineIngestGates.gates ++
      PipelineModelGates.gates ++ PipelineMixGates.gates)

  /** `gates` as a registry; throws on a repeated name, which a `Map`
    * literal would silently collapse to its last entry. */
  def of(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }
}
