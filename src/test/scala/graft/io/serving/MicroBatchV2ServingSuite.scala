package graft.io.serving

import graft.TestBase
import org.apache.spark.sql.functions._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** The same request/reply round-trip as ContinuousServingSuite, driven
  * through the DSv2 MICRO-BATCH path of the serving table (default
  * trigger → toMicroBatchStream) — the reference's HTTPSourceV2 serves
  * both modes from one provider, and so does ours.
  */
class MicroBatchV2ServingSuite extends TestBase {

  test("default trigger round trip through the DSv2 micro-batch path") {
    val requests = spark.readStream
      .format("graft.io.serving.HTTPContinuousProvider")
      .option("name", "mb2-api").option("host", "localhost")
      .option("path", "/score").load()
    val replies = requests.select(col("id"),
      ServingFunctions.makeReply(
        upper(col("entity").cast("string"))).as("reply"))
    val query = replies.writeStream
      .format("graft.io.serving.HTTPContinuousReplyProvider")
      .option("name", "mb2-api")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-mb2").toString)
      .start()
    try {
      var server: Option[ServingServer] = None
      val deadline = System.currentTimeMillis() + 30000
      while (server.isEmpty && System.currentTimeMillis() < deadline) {
        server = ServingServer.get("mb2-api")
        if (server.isEmpty) Thread.sleep(100)
      }
      val port = server.get.port
      val client = HttpClient.newHttpClient()
      def post(body: String): Future[String] = Future {
        val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/score"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .timeout(java.time.Duration.ofSeconds(60)).build()
        new String(client.send(req, HttpResponse.BodyHandlers.ofByteArray()).body(),
          StandardCharsets.UTF_8)
      }
      assert(Await.result(post("warm"), 90.seconds) == "WARM")
      val answers = Await.result(
        Future.sequence((1 to 8).map(i => post(s"req$i"))), 90.seconds)
      assert(answers.toSet == (1 to 8).map(i => s"REQ$i").toSet)
      // micro-batch bookkeeping: batch N is committed (and its rows
      // trimmed from the drained map) when batch N+1 runs, so push one
      // more request to force the next batch — everything before it must
      // then be trimmed (no unbounded executor-side growth)
      val s = server.get
      assert(s.offset() >= 9)
      assert(Await.result(post("flush"), 90.seconds) == "FLUSH")
      val trimDeadline = System.currentTimeMillis() + 30000
      while (s.drained.size > 1 && System.currentTimeMillis() < trimDeadline)
        Thread.sleep(200)
      assert(s.drained.size <= 1, s"drained map not trimmed: ${s.drained.size}")
    } finally query.stop()
  }
}
