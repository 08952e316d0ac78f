package graft.io.serving

import graft.TestBase
import org.apache.spark.sql.functions._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** End-to-end Spark Serving test with real sockets (pattern ref:
  * io/split2/HTTPSuite.scala in the reference). */
class ServingSuite extends TestBase {

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  test("http source -> query -> reply sink round trip") {
    val port = freePort()
    val requests = spark.readStream
      .format("graft.io.serving.HTTPSourceProvider")
      .option("name", "test-api").option("host", "localhost")
      .option("port", port.toString).option("path", "/score")
      .load()
    // service logic: reply with upper-cased request body
    val replies = requests.select(col("id"),
      ServingFunctions.makeReply(upper(col("entity").cast("string"))).as("reply"))
    val query = replies.writeStream
      .format("graft.io.serving.HTTPSinkProvider")
      .option("name", "test-api")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-serving").toString)
      .start()
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String): Future[String] = Future {
        val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/score"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .timeout(java.time.Duration.ofSeconds(30)).build()
        new String(client.send(req, HttpResponse.BodyHandlers.ofByteArray()).body(),
          StandardCharsets.UTF_8)
      }
      val futures = (1 to 5).map(i => post(s"hello$i"))
      val answers = Await.result(Future.sequence(futures), 60.seconds)
      assert(answers.toSet == (1 to 5).map(i => s"HELLO$i").toSet)
    } finally query.stop()
  }

  test("driver-mode listener accepts connections as soon as start() returns") {
    val refused = (1 to 6).count { i =>
      val port = freePort()
      val query = spark.readStream
        .format("graft.io.serving.HTTPSourceProvider")
        .option("name", s"bind-$i").option("host", "localhost")
        .option("port", port.toString).option("path", "/score")
        .load()
        .select(col("id"), ServingFunctions.makeReply(col("entity")).as("reply"))
        .writeStream
        .format("graft.io.serving.HTTPSinkProvider")
        .option("name", s"bind-$i")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-bind").toString)
        .start()
      try { new java.net.Socket("localhost", port).close(); false }
      catch { case _: java.net.ConnectException => true }
      finally query.stop()
    }
    assert(refused == 0, s"$refused of 6 connects refused right after start()")
  }
}
