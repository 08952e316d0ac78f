package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Margin probe for the `image_ivf_serving` recall-floor gate: the
  * ACTUAL planted-neighbor recovery count at the serving operating
  * point (nLists=8, nProbe=1, k=4, queries doc_id < 40 — 160 planted
  * (query, group-member) pairs) per sf dir, so the 0.9 floor (144) is
  * set against a measured margin instead of hope. The k-means is
  * seeded, so the count is a constant of the testdata.
  * Usage: IVFServingProbe [sfDir ...]
  */
object IVFServingProbe {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .appName("ivf-serving-probe").getOrCreate()
    try dirs.foreach { dir =>
      val bmp = udf((id: Long) => graft.gates.MediaFixtures.testBmpBytes(id))
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).withColumn("payload", bmp(col("doc_id")))
      val emb = new graft.image.ImageEmbedder().setInputCol("payload")
        .transform(docs).select(col("doc_id"), col("image_embedding"))
        .localCheckpoint()
      val queries = emb.filter(col("doc_id") < 40)
      Seq(1, 2, 8).foreach { nProbe =>
        val ivf = new graft.sim.IVFNearestNeighbors()
          .setInputCol("image_embedding").setIdCol("doc_id")
          .setNLists(8).fit(emb)
          .setK(4).setNProbe(nProbe)
          .setQueries(queries, "doc_id", "image_embedding")
          .transform(emb)
          .select(col("query_id"), explode(col("neighbors.id")).as("id"))
        val recovered = ivf.filter((col("id") / 4).cast("long") ===
          (col("query_id") / 4).cast("long")).count()
        println(s"$dir nProbe=$nProbe recovered=$recovered/160 " +
          f"(recall=${recovered / 160.0}%.4f)")
      }
    } finally spark.stop()
  }
}
