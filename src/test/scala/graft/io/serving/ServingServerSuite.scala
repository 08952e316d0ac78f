package graft.io.serving

import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The serving core without Spark: offsets, drained rows and replies. */
class ServingServerSuite extends AnyFunSuite {

  test("every id below a reported offset is drained; each exchange is answered once") {
    val n = 200
    val server = ServingServer.ensure("offset-invariant", "localhost", 0, "/echo")
    val pool = Executors.newFixedThreadPool(16)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val client = HttpClient.newHttpClient()
      val posts = (0 until n).map(i => Future {
        val req = HttpRequest.newBuilder(
            URI.create(s"http://localhost:${server.port}/echo"))
          .POST(HttpRequest.BodyPublishers.ofString(s"r$i"))
          .timeout(java.time.Duration.ofSeconds(60)).build()
        new String(client.send(req, HttpResponse.BodyHandlers.ofByteArray()).body(),
          StandardCharsets.UTF_8)
      })
      // the micro-batch loop: cut at an offset, read [lo, offset), answer
      // every row, commit — while the POSTs are still arriving
      var lo = 0L
      val deadline = System.currentTimeMillis() + 60000
      while (lo < n && System.currentTimeMillis() < deadline) {
        val hi = server.offset()
        val rows = server.rows(lo, hi, id => id).toSeq
        assert(rows.map(_.getLong(0)) == (lo until hi), s"batch [$lo, $hi)")
        rows.foreach { r =>
          val id = r.getLong(0)
          assert(server.reply(id, 200, r.getBinary(3)), s"id $id unanswered")
          assert(!server.reply(id, 500, Array.emptyByteArray),
            s"id $id answered twice")
        }
        server.commit(hi)
        lo = hi
      }
      assert(lo == n)
      assert(server.drained.isEmpty)
      val answers = Await.result(Future.sequence(posts), 60.seconds)
      assert(answers == (0 until n).map(i => s"r$i"))
    } finally {
      ServingServer.stop("offset-invariant")
      pool.shutdownNow()
    }
  }
}
