package graft
package gates

import graft.gates.GateSupport.tbl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Topic-clustering and cluster-balanced curation gates. */
object ClusteringGates {
  /** Planted-cluster fixture shared by `embed_cluster`/`topic_balance`:
    * dim-8 embeddings with one dominant planted direction per
    * doc_id % 6 group plus tiny deterministic jitter — separable enough
    * that the seeded spherical k-means recovers the partition EXACTLY
    * at every SF (the quality_classifier planted-rule pattern). Returns
    * the fitted assignment (doc_id, cluster). */
  private def plantedClusters(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "documents").select(col("doc_id"),
      array((0 until 8).map(d =>
        when(col("doc_id") % 6 === d, lit(10.0))
          .otherwise(pmod(col("doc_id") * (d + 7), lit(13))
            .cast("double") / 100.0)): _*).as("emb"))
    new graft.sim.EmbeddingClusterer().setInputCol("emb")
      .setIdCol("doc_id").setK(6).setSeed(7L)
      .fit(emb).transform(emb)
      .select(col("doc_id"), col("cluster"))
  }

  val gates: Seq[Gate] = Seq(
    // EmbeddingClusterer gated on EXACT recovery of a planted partition:
    // 6 orthogonal planted directions (one per doc_id % 6) with tiny
    // deterministic jitter; spherical k-means must reproduce the
    // partition, and the arbitrary k-means labels are canonicalized to
    // each cluster's min doc_id so the oracle replays label-free.
    Gate("embed_cluster", { (s, dir) =>
      // window min, not a self-join: the assignment UDF runs ONCE
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      plantedClusters(s, dir)
        .withColumn("cluster_rep", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("cluster_rep"))
    }, oracle = Some(
      // planted-partition recovery, label-free: the oracle is the planted
      // grouping itself, canonicalized to each group's min doc_id
      """SELECT doc_id, min(doc_id) OVER (PARTITION BY doc_id % 6)
        |  AS cluster_rep FROM documents""".stripMargin)),

    // deterministic per-group doc-count cap (the quota half of
    // cluster-balanced curation): 10 docs per source by the family's
    // md5(id:salt) draw — the oracle replays the window-rank rule the
    // bottom-k aggregator is provably equivalent to
    Gate("group_quota", { (s, dir) =>
      new graft.text.GroupQuotaSampler().setGroupCol("source")
        .setIdCol("doc_id").setCap(10)
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("source"))
    }, oracle = Some(
      // the bottom-k aggregator's keep set == the window-rank rule
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota'), doc_id)
        |    AS rn FROM documents)
        |WHERE rn <= 10""".stripMargin)),

    // the COMPOSED capability (DataComp-LM topic rebalancing): planted
    // clusters -> per-cluster quota, one plan; survivors and their
    // canonical cluster rep both replayed in SQL
    Gate("topic_balance", { (s, dir) =>
      val assigned = plantedClusters(s, dir)
      val kept = new graft.text.GroupQuotaSampler().setGroupCol("cluster")
        .setIdCol("doc_id").setCap(15).setSalt("balance")
        .transform(assigned)
      // window min over the post-quota survivors (tiny frame), no re-run
      // of the assignment + quota lineage through a self-join
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      kept.withColumn("cluster_rep", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("cluster_rep"))
    }, oracle = Some(
      """WITH kept AS (
        |  SELECT doc_id, doc_id % 6 AS grp FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY doc_id % 6
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':balance'), doc_id)
        |      AS rn FROM documents) WHERE rn <= 15)
        |SELECT doc_id, min(doc_id) OVER (PARTITION BY grp) AS cluster_rep
        |FROM kept""".stripMargin))
  )
}
