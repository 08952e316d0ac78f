package graft.io.serving

import graft.TestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

class ContinuousServingSuite extends TestBase {

  test("continuous trigger round trip answers without batch boundaries") {
    val requests = spark.readStream
      .format("graft.io.serving.HTTPContinuousProvider")
      .option("name", "cont-api").option("host", "localhost")
      .option("path", "/score")
      .load()
    val replies = requests.select(col("id"),
      ServingFunctions.makeReply(
        upper(col("entity").cast("string"))).as("reply"))
    val query = replies.writeStream
      .format("graft.io.serving.HTTPContinuousReplyProvider")
      .option("name", "cont-api")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-cont").toString)
      .trigger(Trigger.Continuous("2 seconds"))
      .start()
    try {
      var server: Option[ServingServer] = None
      val deadline = System.currentTimeMillis() + 30000
      while (server.isEmpty && System.currentTimeMillis() < deadline) {
        server = ServingServer.get("cont-api")
        if (server.isEmpty) Thread.sleep(100)
      }
      val port = server.get.port
      Thread.sleep(2000) // let the readers reach their poll loops
      val client = HttpClient.newHttpClient()
      def post(body: String): Future[String] = Future {
        val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/score"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .timeout(java.time.Duration.ofSeconds(30)).build()
        new String(client.send(req, HttpResponse.BodyHandlers.ofByteArray()).body(),
          StandardCharsets.UTF_8)
      }
      // warm-up request absorbs reader/HTTP-client startup
      assert(Await.result(post("warm"), 60.seconds) == "WARM")
      val t0 = System.nanoTime()
      val answers = Await.result(
        Future.sequence((1 to 8).map(i => post(s"req$i"))), 60.seconds)
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(answers.toSet == (1 to 8).map(i => s"REQ$i").toSet)
      // continuous path answers without waiting for epoch boundaries; the
      // bound is generous because the shared test JVM may be under load
      assert(elapsedMs < 8000, s"took ${elapsedMs}ms — not continuous?")
    } finally query.stop()
  }
}
