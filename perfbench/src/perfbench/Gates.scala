package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checks that each stage the workloads compose is the stage an
  * oracle-checked `SparkEntry` gate runs: on the gate's own input
  * directory (for example the sf0.01 test data), the stage's output must
  * have the gate's row count and order-independent hash.
  *
  * {{{
  * perfbench.Gates <sfDir> <cores>
  * }}}
  * Prints one line per gate and exits non-zero on any mismatch. */
object Gates {
  private def digest(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).bitwiseAND(0x7fffffffL)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, cores) = args.take(2)
    val spark = graft.core.SessionDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, None, None)
    def tbl(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    def docs = tbl("documents")
    def emb = tbl("embeddings")
    val chunkCols = Seq("doc_id", "tok_offset", "chunk_id", "tok_start", "tok_end")

    val mine: Seq[(String, () => DataFrame)] = Seq(
      "dedup_exact" -> (() =>
        Stages.exactDedup(ctx, docs).select("doc_id", "text")),
      "quality_filter" -> (() =>
        Stages.qualityFilter(ctx, docs).select("doc_id")),
      "dedup_minhash" -> (() => Stages.minhash(ctx, docs).select("doc_id")),
      "concat_chunk" -> (() =>
        Stages.chunker(ctx, docs, "42").select(chunkCols.map(col): _*)),
      "curation_e2e" -> (() => Stages.chunker(ctx,
        Stages.qualityFilter(ctx, Stages.exactDedup(ctx, docs))
          .select("doc_id", "text"), "e2e").select(chunkCols.map(col): _*)),
      "train_classifier" -> (() => Stages.trainClassifier(ctx, tbl("events"))
        .select("event_id", "predicted_label")),
      "tune_hyperparameters" -> (() =>
        Stages.tuneHyperparameters(ctx, tbl("events")).select("event_id", "prediction")),
      "sar_recommend" -> (() => Stages.sar(ctx, tbl("events"), "event_type")
        .recommendForAllUsers(3, removeSeen = false)
        .withColumn("rank", col("rank").cast("int"))),
      "knn_ivfpq" -> (() => Stages.ivfpq(ctx, emb, emb.filter(col("vec_id") < 10))
        .select(col("query_id"), explode(col("neighbors.id")).as("neighbor_id"))),
      "knn_balltree" -> (() => Stages.knn(ctx, emb, emb.filter(col("vec_id") < 100))
        .select(col("vec_id"), explode(col("matches.id")).as("neighbor_id"))))

    val gates = graft.SparkEntry.queries
    var bad = 0
    mine.foreach { case (name, stage) =>
      val g = digest(gates(name)(spark, dir))
      val m = digest(stage())
      if (g != m) bad += 1
      println(s"""{"gate":"$name","gate_digest":"${g._1}/${g._2}",""" +
        s""""stage_digest":"${m._1}/${m._2}","equal":${g == m}}""")
    }
    spark.stop()
    System.exit(if (bad == 0) 0 else 1)
  }
}
