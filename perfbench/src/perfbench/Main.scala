package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one JVM per run (see run.py, which builds the
  * program and starts this):
  *
  * {{{
  * perfbench.Main --workload curate|fit|stream --seed N --seconds S
  *                --trace 0|1 --cores C --base DIR --work DIR --out FILE
  *                [--scale K]
  * }}}
  *
  * `--base` holds the base tables the fit inputs are replicated from.
  * Untraced runs (`--trace 0`) time whole passes with no listener
  * attached and report the end-to-end metrics. Traced runs measure
  * untraced and traced passes in equal numbers, in the order U T T U
  * (repeated while time remains), then execute every stage boundary
  * once, and report the per-layer metrics plus the tracing overhead. The result
  * object goes to `--out`; a full record (host telemetry, pass walls,
  * exact counts, digests) is printed as one JSON line and kept under
  * `--work/records`, spans under `--work/spans`. */
object Main {
  val Layers: Seq[String] = Seq("text", "dedup", "featurize", "train",
    "automl", "reco", "cyber", "anomaly", "sim", "nn", "streaming")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, base: String, work: String, out: String,
      scale: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("cores", "4").toInt, need("base"),
      need("work"), need("out"), m.getOrElse("scale", "4").toInt)
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** Micro-batch latencies: sample count, median, and the tail
    * percentile with its value. */
  private def batchLatency(xs: Seq[Double]): Map[String, Any] = {
    val (tp, tv) = tail(xs)
    Map("n" -> xs.size, "p50_s" -> percentile(xs, 50), "tail_percentile" -> tp,
      "tail_s" -> tv, "samples_s" -> xs)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest of the usual percentiles with at least ten samples beyond
    * it; the maximum (percentile 100) when there are too few samples for
    * any. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10) match {
      case Some(p) => (p, percentile(s, p))
      case None => (100.0, if (s.isEmpty) Double.NaN else s.last)
    }
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def json(m: Map[String, Any]): String = m.toSeq.sortBy(_._1).map {
    case (k, v) => "\"" + k + "\":" + jv(v)
  }.mkString("{", ",", "}")
  private def jv(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""
    case m: Map[_, _] => json(m.asInstanceOf[Map[String, Any]])
    case xs: Iterable[_] => xs.map(jv).mkString("[", ",", "]")
    case o => jv(String.valueOf(o))
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = graft.core.SessionDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(s"$work/rdd-checkpoints")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try run(a) catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  private val t00 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - t00) / 1e9}%7.1f s] $msg")

  private def run(a: Args): Int = {
    require(Workloads.Names.contains(a.workload), s"unknown workload ${a.workload}")
    val hostStart = Host.cpuStat()
    val work = new File(a.work).getAbsoluteFile
    work.mkdirs()
    val spark = session(a.cores, work.getPath)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // set-up: generate inputs and build indexes/models, then one
    // warm-up pass
    val dir = new File(work, s"data/${a.workload}-s${a.seed}").getPath
    val t0 = System.nanoTime()
    val prepared = Workloads.setup(a.workload, spark, a.seed, a.scale, a.base, dir)
    val prepS = (System.nanoTime() - t0) / 1e9
    log(s"set-up: ${prepared.setupParts}")
    val plain = new Ctx(spark, None, None)
    val tw = System.nanoTime()
    val warm = prepared.pass(plain)
    var attempted = warm.attempted
    var failed = warm.failed
    val errors = mutable.Buffer[String]() ++ warm.errors
    def account(p: PassOut): Unit = {
      attempted += p.attempted
      failed += p.failed
      errors ++= p.errors
      // every pass must reproduce the warm-up pass's output exactly
      if (p.digest != warm.digest) {
        attempted += 1; failed += 1
        errors += s"digest differs from warm-up: ${p.digest.take(300)}"
      }
    }
    val warmS = (System.nanoTime() - tw) / 1e9
    log(f"warm-up pass $warmS%.2f s")
    val setupS = sessionS + prepS + warmS

    val runId = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${System.currentTimeMillis()}"
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "run_id" -> runId, "scale" -> a.scale, "cores" -> a.cores,
      "input_rows" -> prepared.inputRows, "seconds" -> a.seconds,
      "versions" -> Map("jdk" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "spark" -> spark.version),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS,
        "warmup_s" -> warmS, "parts_s" -> prepared.setupParts.toMap))

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val mStart = System.nanoTime()
    def elapsed = (System.nanoTime() - mStart) / 1e9

    if (!a.trace) {
      val walls = mutable.Buffer[Double]()
      val batches = mutable.Buffer[Double]()
      while (walls.size < prepared.minPasses || elapsed < a.seconds) {
        val t0 = System.nanoTime()
        val p = prepared.pass(plain)
        walls += (System.nanoTime() - t0) / 1e9
        log(f"pass ${walls.size} ${walls.last}%.2f s")
        batches ++= p.batchS
        account(p)
      }
      val wall = median(walls.toSeq)
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (wall, "s")
      metrics("rows_per_s") = (prepared.inputRows / wall, "rows/s")
      metrics("peak_rss_mb") = (vmHwmMb(), "MB")
      record("pass_walls_s") = walls.toSeq
      if (batches.nonEmpty) record("batch_latency") = batchLatency(batches.toSeq)
    } else {
      val tracer = new Tracer(runId)
      val probes = new Probes(spark, tracer)
      probes.register()
      val plainWalls = mutable.Buffer[Double]()
      val plainBatches = mutable.Buffer[Double]()
      val tracedWalls = mutable.Buffer[Double]()
      val stats = mutable.Buffer[PassStats]()
      val outRows = mutable.Buffer[Long]()
      val outs = mutable.Buffer[PassOut]()
      // U T T U order: equal numbers of each kind, and a drift over the
      // run weighs on both kinds alike
      var i = 0
      while (i < 4 || i % 2 == 1 || elapsed < a.seconds) {
        if (i % 4 == 0 || i % 4 == 3) {
          val t0 = System.nanoTime()
          val p = prepared.pass(plain)
          plainWalls += (System.nanoTime() - t0) / 1e9
          plainBatches ++= p.batchS
          account(p)
        } else {
          val k = tracedWalls.size
          val st = probes.begin()
          tracer.pass = k
          val s0 = tracer.nowUs
          val t0 = System.nanoTime()
          val traced = new Ctx(spark, Some(tracer), None)
          val p = prepared.pass(traced)
          outRows += traced.outRows.get
          val w = (System.nanoTime() - t0) / 1e9
          probes.end()
          tracer.add("pass", "pass", s0, s0 + w * 1e6)
          tracer.pass = -1
          tracedWalls += w
          stats += st
          outs += p
          account(p)
        }
        i += 1
      }
      // boundary pass: execute each stage output once, untimed as a pass
      val marks = new Marks
      account(prepared.pass(new Ctx(spark, None, Some(marks))))

      val spans = tracer.all
      Tracer.link(spans)
      val self = Tracer.selfTimes(spans, Tracer.absorbed(spans, Layers.toSet))
      val nPass = tracedWalls.size.toDouble
      val roots = spans.filter(_.layer == "pass")
      val rootSelf = roots.map(r => self(r.id)).sum
      val rootDur = roots.map(_.dur).sum
      val layerSelf = spans.filter(s => s.layer != "pass")
        .groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e6 / nPass }
      val calls = spans.filter(s => Layers.contains(s.layer))
        .groupBy(_.layer).map { case (l, ss) => l -> ss.size / nPass }
      def statMed(f: PassStats => Double): Double = median(stats.map(f).toSeq)
      Layers.foreach { l =>
        metrics(s"$l.calls") = (calls.getOrElse(l, 0.0), "count")
        metrics(s"$l.self_s") = (layerSelf.getOrElse(l, 0.0), "s")
        metrics(s"$l.jobs") = (statMed(_.jobsByLayer(l).toDouble), "count")
        metrics(s"$l.exec_s") = (marks.execS(l), "s")
      }
      Seq("analysis", "optimization", "planning", "execute").foreach { ph =>
        val ss = spans.filter(s => s.layer == "spark" && s.name == ph)
        metrics(s"spark.${ph}_s") = (ss.map(s => self(s.id)).sum / 1e6 / nPass, "s")
      }
      val wallT = median(tracedWalls.toSeq)
      metrics("exec.jobs") = (statMed(_.jobs.toDouble), "count")
      metrics("exec.stages") = (statMed(_.stages.toDouble), "count")
      metrics("exec.tasks") = (statMed(_.tasks.toDouble), "count")
      metrics("exec.task_busy_s") = (statMed(_.busyMs / 1e3), "s")
      metrics("exec.task_cpu_s") = (statMed(_.cpuNs / 1e9), "s")
      metrics("exec.gc_s") = (statMed(_.gcMs / 1e3), "s")
      metrics("exec.sched_wait_s") = (statMed(_.schedMs / 1e3), "s")
      metrics("exec.fetch_wait_s") = (statMed(_.fetchWaitMs / 1e3), "s")
      metrics("exec.shuffle_read_mb") = (statMed(_.shuffleReadB / 1048576.0), "MB")
      metrics("exec.shuffle_write_mb") = (statMed(_.shuffleWriteB / 1048576.0), "MB")
      metrics("exec.spill_mb") = (statMed(_.spillB / 1048576.0), "MB")
      metrics("exec.failed_tasks") = (statMed(_.failedTasks.toDouble), "count")
      metrics("exec.core_util") = (statMed(_.busyMs / 1e3) / (wallT * a.cores), "ratio")
      metrics("plan.ops") = (statMed(_.ops.toDouble), "count")
      metrics("plan.exchanges") = (statMed(_.exchanges.toDouble), "count")
      metrics("plan.scans") = (statMed(_.scans.toDouble), "count")
      metrics("plan.broadcasts") = (statMed(_.broadcasts.toDouble), "count")
      metrics("plan.codegen_stages") = (statMed(_.codegen.toDouble), "count")
      metrics("plan.udfs") = (statMed(_.udfs.toDouble), "count")
      metrics("plan.output_rows") = (median(outRows.map(_.toDouble).toSeq), "count")
      Probes.OpClasses.foreach { c =>
        metrics(s"op.$c.time_s") = (statMed(_.opTime(c)), "s")
        metrics(s"op.$c.rows") = (statMed(_.opRows(c).toDouble), "count")
      }
      // micro-batch latency from the untraced passes (none outside stream)
      val (_, bTail) = tail(plainBatches.toSeq)
      metrics("batch_s.p50") = (if (plainBatches.isEmpty) 0.0 else percentile(plainBatches.toSeq, 50), "s")
      metrics("batch_s.tail") = (if (plainBatches.isEmpty) 0.0 else bTail, "s")
      if (plainBatches.nonEmpty) record("batch_latency") = batchLatency(plainBatches.toSeq)
      val bt = stats.map(_.batches.toSeq)
      metrics("streaming.batches") = (median(bt.map(_.size.toDouble).toSeq), "count")
      metrics("streaming.trigger_overhead_s") =
        (median(bt.map(b => b.map(x => (x._1 - x._2) / 1e3).sum).toSeq), "s")
      metrics("streaming.fold_s") = (median(outs.map(_.notes.getOrElse("fold_s", 0.0)).toSeq), "s")
      metrics("streaming.index_rows") =
        (median(outs.map(_.notes.getOrElse("index_rows", 0.0)).toSeq), "count")
      metrics("streaming.kept_frac") =
        (median(outs.map(_.notes.getOrElse("kept_frac", 0.0)).toSeq), "ratio")
      val dd = marks.flows.filter(_._1 == "dedup")
      metrics("dedup.kept_frac") =
        (if (dd.isEmpty) 0.0 else dd.map(f => f._3.toDouble / math.max(1L, f._2)).product, "ratio")
      val plainMed = median(plainWalls.toSeq)
      metrics("trace.overhead_pct") = ((wallT / plainMed - 1) * 100, "%")
      metrics("trace.coverage") = (if (rootDur > 0) 1 - rootSelf / rootDur else 0.0, "ratio")

      // exact counts: identical in every traced pass?
      def counts(st: PassStats): Map[String, Long] = Map(
        "plan.ops" -> st.ops, "plan.exchanges" -> st.exchanges,
        "plan.scans" -> st.scans, "plan.broadcasts" -> st.broadcasts,
        "plan.codegen_stages" -> st.codegen, "plan.udfs" -> st.udfs,
        "plan.queries" -> st.queries, "exec.jobs" -> st.jobs,
        "exec.stages" -> st.stages, "exec.tasks" -> st.tasks,
        "exec.shuffle_read_bytes" -> st.shuffleReadB,
        "exec.shuffle_write_bytes" -> st.shuffleWriteB,
        "plan.output_rows" -> outRows(stats.indexOf(st)))
      val cs = stats.map(counts).toSeq
      record("exact_counts") = cs.head
      // shuffle block sizes may differ by a few bytes (row order inside
      // map outputs); every other count must repeat exactly
      val near = Set("exec.shuffle_read_bytes", "exec.shuffle_write_bytes")
      record("exact_counts_repeat") = cs.forall(c => c.forall { case (k, v) =>
        if (near(k)) math.abs(v - cs.head(k)) <= 1e-4 * math.max(1L, v) else v == cs.head(k)
      })
      record("traced_walls_s") = tracedWalls.toSeq
      record("untraced_walls_s") = plainWalls.toSeq
      record("self_s") = layerSelf
      record("self_share_of_wall") = layerSelf.map { case (l, s) => l -> s / wallT }
      record("coverage") = metrics("trace.coverage")._1
      record("tracing_overhead_pct") = metrics("trace.overhead_pct")._1
      record("boundaries") = marks.flows.map(f => Seq(f._1, f._2, f._3, f._4))
      record("digest") = outs.head.digest
      val spanDir = new File(work, "spans")
      spanDir.mkdirs()
      val pw = new PrintWriter(new File(spanDir, s"$runId.jsonl"))
      try spans.sortBy(_.start).foreach(s => pw.println(json(Map(
        "id" -> s.id, "run" -> s.run, "pass" -> s.pass, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.start,
        "end_us" -> s.end))))
      finally pw.close()
      record("spans_file") = s"spans/$runId.jsonl"
    }

    val hostEnd = Host.cpuStat()
    record ++= Host.telemetry(hostStart, hostEnd)
    record("attempted") = attempted
    record("failed") = failed
    record("fail_frac") = failed.toDouble / math.max(1, attempted)
    record("errors") = errors.take(20).toSeq
    record("digest") = record.getOrElse("digest", warm.digest)
    record("metrics") = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val recLine = json(record.toMap)
    val recDir = new File(work, "records")
    recDir.mkdirs()
    val rw = new PrintWriter(new File(recDir, s"$runId.json"))
    try rw.println(recLine) finally rw.close()
    println(recLine)

    val result = json(Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap))
    val ow = new PrintWriter(new File(a.out))
    try ow.println(result) finally ow.close()
    spark.stop()
    0
  }
}

/** Host telemetry in every record, read the way graft.Bench reads it. */
object Host {
  /** (total, steal, busy) jiffies from /proc/stat's cpu line. */
  def cpuStat(): Option[(Long, Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    val total = f.take(8).sum
    val steal = if (f.length > 7) f(7) else 0L
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    Some((total, steal, total - idle - steal))
  } catch { case _: Throwable => None }

  def telemetry(a: Option[(Long, Long, Long)],
      b: Option[(Long, Long, Long)]): Map[String, Any] = {
    val load1 = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => 0.0 }
    val (steal, busy) = (a, b) match {
      case (Some((t0, s0, b0)), Some((t1, s1, b1))) if t1 > t0 =>
        (100.0 * (s1 - s0) / (t1 - t0), 100.0 * (b1 - b0) / (t1 - t0))
      case _ => (0.0, 0.0)
    }
    Map("nproc" -> Runtime.getRuntime.availableProcessors(),
      "steal_pct" -> steal, "busy_pct" -> busy, "load1" -> load1)
  }
}
