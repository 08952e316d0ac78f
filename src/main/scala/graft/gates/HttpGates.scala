package graft
package gates

import graft.gates.GateSupport.tbl
import org.apache.spark.sql.functions._

/** HTTP-on-Spark gates (SURVEY.md §2.12), served by
  * [[graft.MockServices]]. */
object HttpGates {
  val gates: Seq[Gate] = Seq(
    Gate("http_transformer", { (s, dir) =>
      // local mock JSON service (driver JVM; executors share it in local
      // mode) answering {"text": ...} -> {"length": N}
      val port = MockServices.lenServicePort()
      import org.apache.spark.sql.types._
      new graft.io.http.SimpleHTTPTransformer()
        .setInputCols(Seq("text"))
        .setUrl(s"http://localhost:$port/len")
        .setOutputDataType(StructType(Seq(StructField("length", IntegerType))))
        .setOutputCol("parsed").setConcurrency(16)
        // spread the async window across tasks — the cluster shape (HTTP
        // fan-out per executor), and robust to per-request latency spikes
        .transform(tbl(s, dir, "documents").repartition(8))
        .select(col("doc_id"), col("parsed.length").as("text_len"))
    }, oracle = Some(
      "SELECT doc_id, CAST(len(text) AS INTEGER) AS text_len FROM documents")),

    Gate("download_from_urls", { (s, dir) =>
      // pooled async GETs against the mock blob service: payload length is
      // a pure function of the id, so byte counts are oracle-checkable
      val port = MockServices.lenServicePort()
      new graft.io.http.DownloadFromUrls().setInputCol("__url")
        .setOutputCol("bytes").setConcurrency(16)
        .transform(tbl(s, dir, "documents").repartition(8)
          .withColumn("__url",
            concat(lit(s"http://localhost:$port/blob/"), col("doc_id"))))
        .select(col("doc_id"), length(col("bytes")).cast("int").as("n_bytes"),
          col("download_status").as("status"))
    }, oracle = Some(
      // mock blob service serves (doc_id % 64) + 1 bytes per document
      """SELECT doc_id, CAST(doc_id % 64 + 1 AS INTEGER) AS n_bytes,
        |  CAST(200 AS INTEGER) AS status
        |FROM documents""".stripMargin))
  )
}
