package graft.io.serving

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** Spark Serving, driver mode (ref:
  * org/apache/spark/sql/execution/streaming/HTTPSource.scala:43-210): the
  * [[ServingServer]] runs in the DRIVER JVM on the requested port. Each
  * micro-batch is the requests drained below its offset, parallelized
  * from the driver; the paired sink answers reply rows through the same
  * server, correlated by row id. Placement is the only difference from
  * the DSv2 modes of [[HTTPContinuousProvider]], which run the same
  * server on every executor JVM. The provider binds the listener in
  * `sourceSchema`, which runs on the caller's thread during `load()`, so
  * `start()` returns with the port already listening.
  */
object HTTPSourceV1 {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("method", StringType),
    StructField("path", StringType),
    StructField("entity", BinaryType)))
}

class HTTPSourceV1(spark: SparkSession, name: String, server: ServingServer)
    extends Source {
  override def schema: StructType = HTTPSourceV1.schema

  override def getOffset: Option[Offset] = {
    val n = server.offset()
    if (n == 0) None else Some(LongOffset(n))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val lo = start.map(o => o.asInstanceOf[LongOffset].offset).getOrElse(0L)
    val hi = end.asInstanceOf[LongOffset].offset
    val rows = server.rows(lo, hi, id => id).toIndexedSeq
    val rdd = spark.sparkContext.parallelize(rows,
      math.max(1, math.min(rows.size, 4)))
    org.apache.spark.sql.graftshims.StreamingBridge
      .internalCreateDataFrame(spark, rdd, schema)
  }

  override def commit(end: Offset): Unit =
    server.commit(end.asInstanceOf[LongOffset].offset)

  override def stop(): Unit = ServingServer.stop(name)
}

/** `format("graft.io.serving.HTTPSourceProvider")` — options: name, host,
  * port, path. */
class HTTPSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-http"

  // idempotent: load() binds, and a query restarted after stop() rebinds
  private def listen(parameters: Map[String, String]): (String, ServingServer) = {
    val name = parameters.getOrElse("name", "default")
    (name, ServingServer.ensure(name,
      parameters.getOrElse("host", "localhost"),
      parameters.getOrElse("port", "8899").toInt,
      parameters.getOrElse("path", "/")))
  }

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (listen(parameters)._1, HTTPSourceV1.schema)
  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val (name, server) = listen(parameters)
    new HTTPSourceV1(ctx.sparkSession, name, server)
  }
}

/** Reply sink: expects (id LONG, reply STRUCT(statusCode INT, entity
  * BINARY)) rows; collects each micro-batch to the driver and answers the
  * matching exchange (ref: HTTPSource.scala:178-210 HTTPSink). */
class HTTPSinkV1(name: String) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit =
    ServingServer.get(name).foreach { server =>
      // the incoming frame is streaming-tagged, so plain collect() is
      // rejected; executeCollect() on the physical plan is the sanctioned
      // sink-side materialization (same approach as Spark's MemorySink).
      // Replies are small by construction: one row per in-flight request.
      val idIdx = data.schema.fieldIndex("id")
      val replyIdx = data.schema.fieldIndex("reply")
      data.queryExecution.executedPlan.executeCollect().foreach { r =>
        server.reply(r.getLong(idIdx), r.getStruct(replyIdx, 2))
      }
    }
}

class HTTPSinkProvider extends StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "graft-http-reply"
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink =
    new HTTPSinkV1(parameters.getOrElse("name", "default"))
}

/** Reply-column builders (ref: ServingUDFs makeReply). */
object ServingFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  def makeReply(entity: Column, status: Column = lit(200)): Column =
    struct(status.cast("int").as("statusCode"),
      entity.cast("binary").as("entity"))
}
