package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator, ScalaUDAF}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed interval. Times are epoch microseconds so harness spans
  * (nanoTime-based) and Spark's own phase timestamps (epoch millis)
  * share one axis. `parent` is filled in when the run ends. */
final case class Span(id: Int, run: String, pass: Int, layer: String,
    name: String, start: Double, end: Double, var parent: Int = -1) {
  def dur: Double = end - start
}

/** In-memory span recorder for one traced run. Spans are only kept
  * while `pass >= 0`; they are written out when the run ends. */
final class Tracer(val run: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  @volatile var pass: Int = -1
  private val originUs =
    System.currentTimeMillis() * 1000.0 - System.nanoTime() / 1000.0
  def nowUs: Double = originUs + System.nanoTime() / 1000.0

  def add(layer: String, name: String, start: Double, end: Double): Unit = {
    val p = pass
    if (p >= 0 && end >= start)
      spans.add(Span(ids.getAndIncrement(), run, p, layer, name, start, end))
  }

  /** Time `body` as a span of `layer`; jobs it launches are tagged with
    * the layer through a Spark local property. */
  def span[A](sc: SparkContext, layer: String, name: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Tracer.LayerProp)
    sc.setLocalProperty(Tracer.LayerProp, layer)
    val s = nowUs
    try body finally {
      add(layer, name, s, nowUs)
      sc.setLocalProperty(Tracer.LayerProp, prev)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  val LayerProp = "perfbench.layer"

  /** Parent = the shortest span of the same pass that contains it. */
  def link(spans: Seq[Span]): Unit = {
    spans.groupBy(_.pass).values.foreach { ss =>
      val sorted = ss.sortBy(s => (s.start, -s.end, s.id)).toArray
      sorted.foreach { s =>
        var best: Span = null
        sorted.foreach { p =>
          // 2 ms of slack: Spark's phase times are whole milliseconds
          if ((p ne s) && p.start - 2000 <= s.start && p.end + 2000 >= s.end &&
              (p.dur > s.dur || (p.dur == s.dur && p.id < s.id)) &&
              (best == null || p.dur < best.dur)) best = p
        }
        s.parent = if (best == null) -1 else best.id
      }
    }
  }

  val SparkPhases: Set[String] = Set("analysis", "optimization", "planning", "execute")

  /** A Spark phase span under a module call: the module's self time
    * includes the eager jobs its public calls launch, so such spans are
    * not subtracted from it and not reported as `spark` time. */
  def absorbed(spans: Seq[Span], modules: Set[String]): Set[Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    def underModule(s: Span): Boolean = {
      var p = byId.get(s.parent)
      while (p.isDefined && !modules.contains(p.get.layer)) p = byId.get(p.get.parent)
      p.isDefined
    }
    spans.filter(s => s.layer == "spark" && SparkPhases(s.name) && underModule(s))
      .map(_.id).toSet
  }

  /** Span duration minus the union of its counted children's intervals;
    * absorbed spans count toward the span that absorbs them, and their
    * own children toward the nearest counted ancestor. */
  def selfTimes(spans: Seq[Span], skip: Set[Int]): Map[Int, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    @annotation.tailrec
    def counted(p: Int): Int = byId.get(p) match {
      case Some(s) if skip(s.id) => counted(s.parent)
      case _ => p
    }
    val kids = spans.filterNot(s => skip(s.id)).groupBy(s => counted(s.parent))
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN) { curS = a; curE = b }
        else if (a <= curE) curE = math.max(curE, b)
        else { covered += curE - curS; curS = a; curE = b }
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> (if (skip(s.id)) 0.0 else math.max(0.0, s.dur - covered))
    }.toMap
  }
}

/** Per-stage-boundary execution, used once per traced run: each marked
  * frame runs to the noop sink, and its time minus the time of the
  * boundary it was computed `from` is that layer's marginal execute
  * time. */
final class Marks {
  val execS: mutable.Map[String, Double] =
    mutable.Map[String, Double]().withDefaultValue(0.0)
  private val done = mutable.Map[String, (Double, Long)]()
  /** (layer, rows in, rows out, marginal seconds) per boundary, in call
    * order */
  val flows: mutable.Buffer[(String, Long, Long, Double)] = mutable.Buffer()

  def mark(layer: String, id: String, df: DataFrame, from: String): Unit = {
    val t0 = System.nanoTime()
    val rows = Sink.run(df, Nil)("rows")
    val t = (System.nanoTime() - t0) / 1e9
    done.get(from).foreach { case (pt, prows) =>
      val dt = math.max(0.0, t - pt)
      execS(layer) += dt
      flows += ((layer, prows, rows, dt))
    }
    done(id) = (t, rows)
  }
}

/** The noop sink: executes a frame completely and returns its row
  * count plus an order-independent hash of `hashCols`, observed in the
  * same execution. Extra named aggregates ride along. */
object Sink {
  def run(df: DataFrame, hashCols: Seq[Column],
      extra: Seq[Column] = Nil): Map[String, Long] = {
    val obs = Observation("sink_" + java.util.UUID.randomUUID().toString
      .replace("-", ""))
    val h =
      if (hashCols.isEmpty) lit(0L)
      else coalesce(sum(xxhash64(hashCols: _*).bitwiseAND(0x7fffffffL)),
        lit(0L))
    val aggs = Seq(count(lit(1)).as("rows"), h.as("hash")) ++ extra
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    obs.get.map { case (k, v) => k -> (v match {
      case null => 0L
      case n: java.lang.Number => n.longValue()
      case o => o.toString.toLong
    }) }
  }
}

/** What the harness hands a workload: span, boundary and sink hooks.
  * Untraced runs carry neither tracer nor marks, so the hooks cost one
  * branch. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer],
    val marks: Option[Marks]) {
  private def sc = spark.sparkContext
  /** rows delivered to sinks by this context */
  val outRows = new java.util.concurrent.atomic.AtomicLong()
  def call[A](layer: String, name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(sc, layer, name)(body)
    case None => body
  }
  /** Stage boundary `id` of `layer`, computed from boundary `from`
    * (an input boundary has no `from`). */
  def mark(layer: String, id: String, df: DataFrame, from: String = ""): Unit =
    marks.foreach(_.mark(layer, id, df, from))
  def sink(df: DataFrame, hashCols: Seq[Column],
      extra: Seq[Column] = Nil): Map[String, Long] = {
    val r = call("spark", "sink")(Sink.run(df, hashCols, extra))
    outRows.addAndGet(r("rows"))
    r
  }
  /** A sink whose rows are collected and checked in this JVM. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = call("spark", "sink")(df.collect())
    outRows.addAndGet(rows.length)
    rows
  }
}

/** Counters of one traced pass, read from Spark's listeners. */
final class PassStats {
  var jobs, stages, tasks, failedTasks = 0L
  var busyMs, cpuNs, gcMs, schedMs, fetchWaitMs = 0L
  var shuffleReadB, shuffleWriteB, spillB = 0L
  val jobsByLayer: mutable.Map[String, Long] =
    mutable.Map[String, Long]().withDefaultValue(0L)
  // plan shape summed over executed queries
  var ops, exchanges, scans, broadcasts, codegen, udfs, queries = 0L
  val opTime: mutable.Map[String, Double] =
    mutable.Map[String, Double]().withDefaultValue(0.0)
  val opRows: mutable.Map[String, Long] =
    mutable.Map[String, Long]().withDefaultValue(0L)
  // streaming progress: (trigger ms, addBatch ms, input rows)
  val batches: mutable.Buffer[(Long, Long, Long)] = mutable.Buffer()
}

/** Listeners hooked onto the session from outside the program: a
  * SparkListener for job/stage/task counters and, at each SQL
  * execution's end, its QueryExecution phases and final (AQE) physical
  * plan; and a StreamingQueryListener for micro-batch progress. */
final class Probes(spark: SparkSession, tracer: Tracer) {
  @volatile private var cur: PassStats = null

  private val exec = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = cur
      if (p != null) p.synchronized {
        p.jobs += 1
        val layer = Option(e.properties)
          .flatMap(pr => Option(pr.getProperty(Tracer.LayerProp)))
          .getOrElse("none")
        p.jobsByLayer(layer) += 1
      }
    }
    // an execution's phases and final plan, once it has ended
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val p = cur
        if (p != null) org.apache.spark.sql.perfbench.SqlEnd.qe(end).foreach { qe =>
          var planEnd = 0.0
          Seq("analysis", "optimization", "planning").foreach { ph =>
            qe.tracker.phases.get(ph).foreach { s =>
              tracer.add("spark", ph, s.startTimeMs * 1000.0, s.endTimeMs * 1000.0)
              planEnd = math.max(planEnd, s.endTimeMs * 1000.0)
            }
          }
          if (planEnd > 0) tracer.add("spark", "execute", planEnd, end.time * 1000.0)
          p.synchronized { Probes.planShape(qe.executedPlan, p) }
        }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val p = cur
      if (p != null) p.synchronized { p.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val p = cur
      if (p != null) p.synchronized {
        p.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) p.failedTasks += 1
        p.busyMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          p.cpuNs += m.executorCpuTime
          p.gcMs += m.jvmGCTime
          p.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          p.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          p.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          p.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          p.spillB += m.diskBytesSpilled
        }
      }
    }
  }

  private val sql = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = cur
      if (p == null) return
      val pr = e.progress
      val d = pr.durationMs
      val trig = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val add = Option(d.get("addBatch")).map(_.longValue).getOrElse(0L)
      if (pr.numInputRows > 0) {
        val startUs = java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000.0
        tracer.add("streaming", "trigger", startUs, startUs + trig * 1000.0)
        p.synchronized { p.batches += ((trig, add, pr.numInputRows)) }
      }
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.streams.addListener(sql)
  }

  /** Deliver every event still queued from earlier passes, then attach
    * a fresh set of counters. */
  def begin(): PassStats = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val p = new PassStats
    cur = p
    p
  }
  /** Wait until every event of the pass is delivered, then detach. */
  def end(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    cur = null
  }
}

object Probes {
  val OpClasses: Seq[String] = Seq("exchange", "aggregate", "join_smj",
    "join_bhj", "sort", "generate", "scan", "window", "object")

  private def opClass(n: SparkPlan): Option[String] = n match {
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike => Some("exchange")
    case _: BaseAggregateExec => Some("aggregate")
    case _: SortMergeJoinExec => Some("join_smj")
    case _: BroadcastHashJoinExec => Some("join_bhj")
    case _: SortExec => Some("sort")
    case _: GenerateExec => Some("generate")
    case _: FileSourceScanExec | _: BatchScanExec | _: InMemoryTableScanExec |
        _: RDDScanExec | _: LocalTableScanExec | _: ExternalRDDScanExec[_] =>
      Some("scan")
    case _: WindowExecBase => Some("window")
    case _: ObjectProducerExec | _: ObjectConsumerExec => Some("object")
    case _ => None
  }

  private def timeS(n: SparkPlan): Double = n.metrics.values.map { m =>
    m.metricType match {
      case "timing" => m.value / 1e3
      case "nsTiming" => m.value / 1e9
      case _ => 0.0
    }
  }.sum

  /** Fold the executed plan's shape and SQL metrics into `p`: counts of
    * operators, exchanges, scans, broadcasts, codegen stages and UDFs,
    * and per operator class its rows and time. An operator without a
    * timer of its own is charged its whole-stage-codegen pipeline time
    * (once per class and stage). */
  def planShape(root: SparkPlan, p: PassStats): Unit = {
    p.queries += 1
    def walk(n: SparkPlan, wsc: Option[WholeStageCodegenExec],
        seen: mutable.Set[(String, Int)]): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, wsc, seen)
      case q: QueryStageExec => walk(q.plan, wsc, seen)
      case _: ReusedExchangeExec => p.ops += 1
      case w: WholeStageCodegenExec =>
        p.codegen += 1
        w.children.foreach(walk(_, Some(w), seen))
      case i: InputAdapter => i.children.foreach(walk(_, None, seen))
      case _ =>
        p.ops += 1
        n.expressions.foreach(_.foreach {
          case _: ScalaUDF | _: ScalaUDAF | _: ScalaAggregator[_, _, _] =>
            p.udfs += 1
          case _ =>
        })
        n match {
          case _: BroadcastExchangeLike => p.broadcasts += 1; p.exchanges += 1
          case _: ShuffleExchangeLike => p.exchanges += 1
          case _ =>
        }
        opClass(n).foreach { c =>
          if (c == "scan") p.scans += 1
          n.metrics.get("numOutputRows").foreach(m => p.opRows(c) += m.value)
          val own = timeS(n)
          if (own > 0) p.opTime(c) += own
          else wsc.foreach { w =>
            if (seen.add((c, System.identityHashCode(w))))
              w.metrics.get("pipelineTime").foreach(m => p.opTime(c) += m.value / 1e3)
          }
        }
        (n.children ++ n.subqueries).foreach(walk(_, wsc, seen))
    }
    walk(root, None, mutable.Set())
  }
}
