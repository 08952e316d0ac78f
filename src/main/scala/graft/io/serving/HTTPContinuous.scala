package graft.io.serving

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{ContinuousPartitionReader, ContinuousPartitionReaderFactory, ContinuousStream, MicroBatchStream, PartitionOffset, Offset => ConnectorOffset}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util

/** Spark Serving, DSv2 distributed modes (ref:
  * .../continuous/HTTPSourceV2.scala:54-79,205-330,475-620 +
  * docs/mmlspark-serving.md:10-11,93): the [[ServingServer]] runs on every
  * executor JVM on port 0. Placement is the only difference from driver
  * mode ([[HTTPSourceProvider]]), which runs the same server in the driver
  * JVM; rows are keyed by (machine, requestId), and each reply is answered
  * by the task that lands on the owning JVM. The trigger picks the read
  * path: [[HTTPMicroBatchStream]] batches drained requests, and
  * [[HTTPContinuousStream]]'s long-lived readers take each request off the
  * queue as it arrives, so a request is HTTP-in → row → transform → reply
  * without waiting for a batch boundary (the ~1 ms path).
  */
object HTTPContinuous {
  val schema: StructType = StructType(Seq(
    StructField("id", StructType(Seq(
      StructField("machine", StringType, nullable = false),
      StructField("requestId", LongType, nullable = false))), nullable = false),
    StructField("method", StringType),
    StructField("path", StringType),
    StructField("entity", BinaryType)))

  // readers per continuous query; each holds one task slot for the
  // query's lifetime
  val readers = 2

  case class ReaderOffset(partitionId: Int, count: Long) extends PartitionOffset
  case class EpochOffset(counts: Map[Int, Long]) extends ConnectorOffset {
    override def json(): String = counts.toSeq.sorted
      .map { case (p, c) => s""""$p":$c""" }.mkString("{", ",", "}")
  }
  object EpochOffset {
    private val Entry = """"(\d+)":(\d+)""".r
    def fromJson(s: String): EpochOffset =
      EpochOffset(Entry.findAllMatchIn(s)
        .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
  }

  case class ServingPartition(partitionId: Int, name: String, host: String,
                              path: String) extends InputPartition
}

class HTTPContinuousProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-http-continuous"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HTTPContinuous.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new HTTPContinuousTable(
      Option(properties.get("name")).getOrElse("default"),
      Option(properties.get("host")).getOrElse("localhost"),
      Option(properties.get("path")).getOrElse("/"))
}

/** Serves BOTH DSv2 streaming modes through one table (ref:
  * HTTPSourceV2.scala:54-79, whose HTTPSourceProviderV2 likewise exposes
  * micro-batch and continuous from the same provider): default or
  * AvailableNow trigger → [[HTTPMicroBatchStream]], Trigger.Continuous →
  * [[HTTPContinuousStream]].
  */
class HTTPContinuousTable(name: String, host: String, path: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft-http-continuous-$name"
  override def schema(): StructType = HTTPContinuous.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.CONTINUOUS_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = HTTPContinuous.schema
        override def toContinuousStream(checkpointLocation: String): ContinuousStream =
          new HTTPContinuousStream(name, host, path)
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new HTTPMicroBatchStream(name, host, path)
      }
    }
}

/** DSv2 micro-batch mode. Offsets are a per-machine request-count map
  * polled by a lightweight job over a one-partition-per-slot setup RDD
  * (the reference drives server lifecycle the same way); the poll drains
  * each JVM's queue, so a batch's rows are already on their JVM when its
  * tasks run. Exactly one task per JVM wins the batch claim and emits
  * that JVM's rows, which stay drained until commit, so recomputation
  * replays identically. Request payloads never pass through the driver.
  */
class HTTPMicroBatchStream(name: String, host: String, path: String)
    extends MicroBatchStream {
  import HTTPMicroBatch._

  private val sc = org.apache.spark.sql.SparkSession.active.sparkContext
  @transient private lazy val setupRdd =
    sc.parallelize(0 until sc.defaultParallelism, sc.defaultParallelism)

  // start the per-JVM listeners everywhere before the first offset poll
  locally {
    val (n, h, p) = (name, host, path)
    setupRdd.mapPartitions { _ =>
      ServingServer.ensure(n, h, 0, p); Iterator.empty[Int]
    }.count()
  }

  override def latestOffset(): ConnectorOffset = {
    val n = name
    val counts = setupRdd.mapPartitions { _ =>
      ServingServer.get(n).map(s => (s.machineId, s.offset())).iterator
    }.collect()
      // two setup partitions on one JVM can observe different offsets
      // while requests arrive; keep the max so the reported offset never
      // regresses across polls
      .groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).max }
    MachineOffset(counts)
  }

  override def initialOffset(): ConnectorOffset = MachineOffset(Map.empty)
  override def deserializeOffset(json: String): ConnectorOffset =
    MachineOffset.fromJson(json)

  override def planInputPartitions(start: ConnectorOffset,
                                   end: ConnectorOffset): Array[InputPartition] = {
    val lo = MachineOffset.fromJson(start.json()).counts
    val hi = MachineOffset.fromJson(end.json()).counts
    Array.tabulate(sc.defaultParallelism)(i =>
      BatchServingPartition(i, name, lo, hi, end.json()))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new HTTPMicroBatchReader(partition.asInstanceOf[BatchServingPartition])
    }

  override def commit(end: ConnectorOffset): Unit = {
    val n = name
    val hiB = sc.broadcast(MachineOffset.fromJson(end.json()).counts)
    setupRdd.mapPartitions { _ =>
      ServingServer.get(n).foreach(s =>
        s.commit(hiB.value.getOrElse(s.machineId, 0L)))
      Iterator.empty[Int]
    }.count()
    ()
  }

  override def stop(): Unit = {
    val n = name
    setupRdd.mapPartitions { _ =>
      ServingServer.stop(n); Iterator.empty[Int]
    }.count()
    ()
  }
}

object HTTPMicroBatch {
  case class BatchServingPartition(partitionId: Int, name: String,
                                   lo: Map[String, Long], hi: Map[String, Long],
                                   endJson: String) extends InputPartition
}

/** Emits the local JVM's drained rows in [lo, hi), if this task won the
  * JVM's claim on the batch. */
class HTTPMicroBatchReader(p: HTTPMicroBatch.BatchServingPartition)
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = ServingServer.get(p.name)
    .filter(_.claim(p.endJson, p.partitionId))
    .map(s => s.rows(p.lo.getOrElse(s.machineId, 0L),
      p.hi.getOrElse(s.machineId, 0L), s.machineKey))
    .getOrElse(Iterator.empty)

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

class HTTPContinuousStream(name: String, host: String, path: String)
    extends ContinuousStream {
  import HTTPContinuous._

  override def planInputPartitions(start: ConnectorOffset): Array[InputPartition] =
    Array.tabulate(readers)(i => ServingPartition(i, name, host, path))

  override def createContinuousReaderFactory(): ContinuousPartitionReaderFactory =
    new ContinuousPartitionReaderFactory {
      override def createReader(partition: InputPartition): ContinuousPartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[ServingPartition]
        new HTTPContinuousReader(p.partitionId, p.name, p.host, p.path)
      }
    }

  override def mergeOffsets(offsets: Array[PartitionOffset]): ConnectorOffset =
    EpochOffset(offsets.map { case ReaderOffset(p, c) => p -> c }.toMap)

  override def initialOffset(): ConnectorOffset = EpochOffset(Map.empty)
  override def deserializeOffset(json: String): ConnectorOffset =
    EpochOffset.fromJson(json)
  override def commit(end: ConnectorOffset): Unit = ()
  override def stop(): Unit = ()
}

/** A long-lived reader: blocks on the JVM's request queue (the engine
  * interleaves epoch markers). Readers on one JVM split the requests
  * without duplication, since each take removes its request. */
class HTTPContinuousReader(partitionId: Int, name: String, host: String,
                           path: String)
    extends ContinuousPartitionReader[InternalRow] {
  import HTTPContinuous._

  private val server = ServingServer.ensure(name, host, 0, path)
  private var emitted = 0L
  private var current: InternalRow = _
  @volatile private var closed = false

  override def next(): Boolean = {
    // a timed take, so close() is seen within 100 ms
    var taken = server.take(100)
    while (taken.isEmpty && !closed) taken = server.take(100)
    if (closed) false
    else {
      val (id, r) = taken.get
      current = ServingServer.row(server.machineKey(id), r)
      emitted += 1
      true
    }
  }
  override def get(): InternalRow = current
  override def getOffset: PartitionOffset = ReaderOffset(partitionId, emitted)
  override def close(): Unit = { closed = true }
}

/** Reply sink for both DSv2 modes: a streaming write whose per-task
  * DataWriter answers each reply row's exchange on the owning JVM as the
  * row arrives. Rows that moved to another JVM (a shuffling query) are
  * skipped there, so queries must stay map-only to be answered. */
class HTTPContinuousReplyProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-http-continuous-reply"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType() // write-only; schema supplied by the query
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new HTTPContinuousReplyTable(
      Option(properties.get("name")).getOrElse("default"), schema)
}

class HTTPContinuousReplyTable(name: String, writeSchema: StructType)
    extends Table with SupportsWrite {
  override def name(): String = s"graft-http-continuous-reply-$name"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      private val schema = info.schema()
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toStreaming: StreamingWrite =
            new ReplyStreamingWrite(name, schema)
        }
    }
}

// the continuous engine serializes the StreamingWrite into its long-lived
// write tasks, so everything on this path must be Serializable
class ReplyStreamingWrite(name: String, schema: StructType)
    extends StreamingWrite with Serializable {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new ReplyWriterFactory(name, schema)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

class ReplyWriterFactory(name: String, schema: StructType)
    extends StreamingDataWriterFactory with Serializable {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new ReplyDataWriter(name, schema)
}

class ReplyDataWriter(name: String, schema: StructType)
    extends DataWriter[InternalRow] {
  private val idIdx = schema.fieldIndex("id")
  private val replyIdx = schema.fieldIndex("reply")

  override def write(r: InternalRow): Unit =
    ServingServer.get(name).foreach { s =>
      val id = r.getStruct(idIdx, 2)
      if (id.getUTF8String(0).toString == s.machineId)
        s.reply(id.getLong(1), r.getStruct(replyIdx, 2))
    }
  override def commit(): WriterCommitMessage = new WriterCommitMessage {}
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
