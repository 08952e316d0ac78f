package graft.io.serving

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.Offset
import org.apache.spark.unsafe.types.UTF8String
import java.net.InetSocketAddress
import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}
import scala.collection.concurrent.TrieMap

/** Spark Serving's one request/reply core (ref:
  * streaming/HTTPSource.scala:43-138, DistributedHTTPSource.scala
  * JVMSharedServer:90-203, continuous/HTTPSourceV2.scala:54-79): one HTTP
  * listener per API name per JVM, and every serving mode runs on it.
  * Placement is the only difference between modes: driver mode
  * ([[HTTPSourceProvider]]) runs it in the driver JVM on the requested
  * port; the DSv2 micro-batch and continuous modes
  * ([[HTTPContinuousProvider]]) run it on every executor JVM on port 0,
  * so request payloads never pass through the driver ("no single-node
  * bottleneck", docs/mmlspark-serving.md:5-9).
  *
  * The handler only reads the request and queues it. An id is assigned
  * when an exchange leaves the queue, under this server's lock, and
  * [[offset]] drains the queue before it reports the drained count, so
  * every id below a reported offset is already in `drained`. (Counting
  * in the handler ahead of the enqueue let an offset poll report an id
  * whose exchange was not queued yet; the batch ending at that offset
  * left it out, and it was never answered.) Drained rows stay until
  * [[commit]], so a recomputed batch replays identically. [[reply]]
  * answers each exchange at most once.
  */
final class ServingServer private (host: String, bindPort: Int, path: String) {
  import ServingServer._

  val machineId: String = java.util.UUID.randomUUID().toString
  private val queue = new LinkedBlockingQueue[(HttpExchange, Request)]()
  private val pending = TrieMap.empty[Long, HttpExchange]
  // batch end offset -> winning partition id: exactly ONE of the JVM's
  // concurrent batch tasks emits a given batch (the others lose the claim)
  private val claims = TrieMap.empty[String, Int]
  private var admitted = 0L // guarded by this
  val drained = TrieMap.empty[Long, Request]

  private val server: HttpServer = {
    graft.core.ServerTuning.ensure()
    val s = HttpServer.create(new InetSocketAddress(host, bindPort), 0)
    s.createContext(path, (ex: HttpExchange) => {
      queue.add((ex, Request(ex.getRequestMethod, ex.getRequestURI.toString,
        ex.getRequestBody.readAllBytes())))
      ()
    })
    s.setExecutor(Executors.newCachedThreadPool(
      r => { val t = new Thread(r); t.setDaemon(true); t }))
    s.start()
    s
  }
  def port: Int = server.getAddress.getPort

  /** Gives a dequeued exchange the next id and holds it for [[reply]]. */
  private def admit(ex: HttpExchange): Long = synchronized {
    val id = admitted
    admitted += 1
    pending.put(id, ex)
    id
  }

  /** Drains the queue into `drained` and returns how many exchanges have
    * been given ids so far: the offset a batch is cut at. */
  def offset(): Long = synchronized {
    var e = queue.poll()
    while (e != null) {
      drained.put(admit(e._1), e._2)
      e = queue.poll()
    }
    admitted
  }

  /** The continuous reader's take: one request, waiting up to
    * `timeoutMs` for it to arrive; None if none came. */
  def take(timeoutMs: Long): Option[(Long, Request)] =
    Option(queue.poll(timeoutMs, TimeUnit.MILLISECONDS))
      .map { case (ex, r) => (admit(ex), r) }

  /** Rows for the drained ids in [lo, hi), in id order, each keyed by
    * `key(id)`. */
  def rows(lo: Long, hi: Long, key: Long => Any): Iterator[InternalRow] =
    (lo until hi).iterator.flatMap(id => drained.get(id).map(row(key(id), _)))

  /** The distributed modes' row key: (machine, requestId). */
  def machineKey(id: Long): InternalRow =
    InternalRow(UTF8String.fromString(machineId), id)

  /** True for exactly one partition per batch on this JVM. Deterministic
    * on recompute, because the winner re-runs with its own id. */
  def claim(batch: String, partitionId: Int): Boolean =
    claims.putIfAbsent(batch, partitionId).forall(_ == partitionId)

  /** A batch ending at `hi` is committed: its drained rows and every
    * batch claim are dropped. */
  def commit(hi: Long): Unit = {
    drained.keys.filter(_ < hi).foreach(drained.remove)
    claims.clear()
  }

  /** Answers exchange `id`; false when it is unknown or already answered. */
  def reply(id: Long, status: Int, entity: Array[Byte]): Boolean =
    pending.remove(id).exists { ex =>
      ex.sendResponseHeaders(status, if (entity.isEmpty) -1 else entity.length)
      if (entity.nonEmpty) ex.getResponseBody.write(entity)
      ex.close()
      true
    }

  /** [[reply]] with a [[ServingFunctions.makeReply]] struct
    * (statusCode INT, entity BINARY). */
  def reply(id: Long, r: InternalRow): Boolean =
    reply(id, r.getInt(0),
      if (r.isNullAt(1)) Array.emptyByteArray else r.getBinary(1))
}

object ServingServer {
  case class Request(method: String, path: String, entity: Array[Byte])

  /** A request row: (id, method, path, entity). */
  def row(id: Any, r: Request): InternalRow =
    InternalRow(id, UTF8String.fromString(r.method),
      UTF8String.fromString(r.path), r.entity)

  private val servers = TrieMap.empty[String, ServingServer]

  /** This JVM's listener for API `name`, bound on first use (`port` 0
    * binds any free port). */
  def ensure(name: String, host: String, port: Int,
             path: String): ServingServer = synchronized {
    servers.getOrElseUpdate(name, new ServingServer(host, port, path))
  }
  def get(name: String): Option[ServingServer] = servers.get(name)
  def stop(name: String): Unit = synchronized {
    servers.remove(name).foreach(_.server.stop(0))
  }
}

/** Offset = machineId -> request count (ref HTTPOffset partitionToValue,
  * HTTPSourceV2.scala:95-112). */
case class MachineOffset(counts: Map[String, Long]) extends Offset {
  override def json(): String =
    counts.toSeq.sortBy(_._1)
      .map { case (m, c) => s""""$m":$c""" }.mkString("{", ",", "}")
}

object MachineOffset {
  private val Entry = """"([0-9a-f-]+)":(\d+)""".r
  def fromJson(s: String): MachineOffset =
    MachineOffset(Entry.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toLong).toMap)
}
