package graft.streaming

import graft.core._
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Event-time analytics operators. The reference inherits Structured
  * Streaming untouched (SURVEY §2.10) — these stages EXPOSE the engine's
  * watermark/window/stateful primitives as pipeline operators that work
  * identically on batch and streaming frames.
  */

/** Tumbling/sliding event-time windowed aggregation with optional
  * watermark. On a streaming frame the watermark bounds state; on batch it
  * is a no-op, so the same stage serves both (one shuffle on
  * (window, keys)).
  */
class EventTimeWindowAggregator(override val uid: String) extends Transformer with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("EventTimeWindowAgg"))

  final val timeCol = new Param[String](this, "timeCol", "event-time column")
  setDefault(timeCol -> "ts")
  def setTimeCol(v: String): this.type = set(timeCol, v)
  final val windowDuration = new Param[String](this, "windowDuration", "e.g. '1 hour'")
  setDefault(windowDuration -> "1 hour")
  def setWindowDuration(v: String): this.type = set(windowDuration, v)
  final val slideDuration = new Param[String](this, "slideDuration",
    "unset = tumbling")
  def setSlideDuration(v: String): this.type = set(slideDuration, v)
  final val watermark = new Param[String](this, "watermark",
    "late-data horizon, e.g. '10 minutes'; unset = none")
  def setWatermark(v: String): this.type = set(watermark, v)
  final val groupCols = new StringArrayParam(this, "groupCols", "extra keys")
  setDefault(groupCols -> Array.empty[String])
  def setGroupCols(v: Seq[String]): this.type = set(groupCols, v.toArray)
  final val valueCol = new Param[String](this, "valueCol", "column to aggregate")
  setDefault(valueCol -> "value")
  def setValueCol(v: String): this.type = set(valueCol, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df0 = ds.toDF()
    // accept raw long nanos (testdata events), TIMESTAMP_NTZ (cast to the
    // session-TZ timestamp — required: withWatermark rejects NTZ event
    // time), or native timestamps
    val df = df0.schema($(timeCol)).dataType match {
      case LongType => df0.withColumn($(timeCol),
        timestamp_micros(expr(s"`${$(timeCol)}` DIV 1000")))
      case TimestampNTZType => df0.withColumn($(timeCol),
        col($(timeCol)).cast(TimestampType))
      case _ => df0
    }
    val marked =
      if (isSet(watermark) && df.isStreaming)
        df.withWatermark($(timeCol), $(watermark))
      else df
    val win =
      if (isSet(slideDuration))
        window(col($(timeCol)), $(windowDuration), $(slideDuration))
      else window(col($(timeCol)), $(windowDuration))
    marked
      .groupBy((win.as("window") +: $(groupCols).toSeq.map(col)): _*)
      .agg(count(lit(1)).as("n"),
        sum(col($(valueCol)).cast(DecimalType(30, 8))).cast("double").as("sum_value"))
      .select((Seq(col("window.start").as("window_start"),
        col("window.end").as("window_end")) ++
        $(groupCols).toSeq.map(col) :+ col("n") :+ col("sum_value")): _*)
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("window_end", TimestampType)) ++
      $(groupCols).toSeq.map(schema(_)) ++ Seq(
      StructField("n", LongType), StructField("sum_value", DoubleType)))
  override def copy(extra: ParamMap): EventTimeWindowAggregator = defaultCopy(extra)
}
object EventTimeWindowAggregator extends graft.core.GraftReadable[EventTimeWindowAggregator]


/** Gap-based sessionization. Batch path: gaps-and-islands with one window
  * over (key, time) — a session starts where the gap from the previous
  * event exceeds `gapSeconds`; session_id = running count of starts.
  * Streaming path (`sessionizeStream`): the same semantics with
  * `flatMapGroupsWithState` + processing-time timeout, emitting closed
  * sessions.
  */
class Sessionize(override val uid: String) extends Transformer with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("Sessionize"))

  final val keyCol = new Param[String](this, "keyCol", "session key")
  setDefault(keyCol -> "user_id")
  def setKeyCol(v: String): this.type = set(keyCol, v)
  final val timeCol = new Param[String](this, "timeCol", "event-time column")
  setDefault(timeCol -> "ts")
  def setTimeCol(v: String): this.type = set(timeCol, v)
  final val gapSeconds = new LongParam(this, "gapSeconds", "session gap")
  setDefault(gapSeconds -> 1800L)
  def setGapSeconds(v: Long): this.type = set(gapSeconds, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df0 = ds.toDF()
    // epoch seconds from native timestamp or long nanos
    val secs = df0.schema($(timeCol)).dataType match {
      case LongType => expr(s"`${$(timeCol)}` DIV 1000000000")
      case _ => unix_timestamp(col($(timeCol)))
    }
    val w = Window.partitionBy(col($(keyCol))).orderBy(col("__secs"))
    df0.withColumn("__secs", secs)
      .withColumn("__gap",
        (col("__secs") - lag(col("__secs"), 1).over(w)) > $(gapSeconds))
      .withColumn("session_id",
        sum(when(col("__gap"), 1).otherwise(0)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("int"))
      .drop("__secs", "__gap")
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(schema :+ StructField("session_id", IntegerType))
  override def copy(extra: ParamMap): Sessionize = defaultCopy(extra)
}
object Sessionize extends graft.core.GraftReadable[Sessionize]


/** Streaming sessionization state machine. */
object SessionizeStream {
  case class SessionState(start: Long, last: Long, n: Long)
  case class ClosedSession(key: Long, start: Long, end: Long, n: Long)

  /** flatMapGroupsWithState over (key, epochSeconds) pairs: emits a row
    * per CLOSED session (gap exceeded, or state timeout when
    * `useTimeout` — timeouts trigger perpetual empty micro-batches, so
    * tests that rely on `processAllAvailable` should pass false). */
  def apply(events: Dataset[(Long, Long)], gapSeconds: Long,
            useTimeout: Boolean = true)
           (implicit spark: org.apache.spark.sql.SparkSession): Dataset[ClosedSession] = {
    import spark.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(),
        if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout()) {
        case (key, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(key, s.start, s.last, s.n))
          } else {
            val times = it.map(_._2).toSeq.sorted
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            times.foreach { t =>
              cur match {
                case Some(s) if t - s.last <= gapSeconds =>
                  cur = Some(s.copy(last = t, n = s.n + 1))
                case Some(s) =>
                  closed ::= ClosedSession(key, s.start, s.last, s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapSeconds * 1000)
            }
            closed.reverseIterator
          }
      }
  }
}

/** Watermark chaining support for the streaming dedup family: the
  * engine disallows REDEFINING a watermark, so a stage only sets its
  * own when the incoming stream already carries one ON THE SAME
  * event-time column — a chain of dedup stages (exact → semantic, the
  * curation-pipeline shape) then shares the upstream stage's watermark
  * (the upstream DELAY governs; configure the horizon at the first
  * stage). A watermark on a DIFFERENT column is NOT treated as ours:
  * the stage still calls `withWatermark` and the engine's loud
  * redefinition error surfaces the genuinely conflicting config
  * instead of this helper silently substituting a foreign horizon
  * (review find). */
private[streaming] object WatermarkUtil
    extends org.apache.spark.internal.Logging {
  private def existing(df: DataFrame, timeCol: String)
      : Option[org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark] = {
    // the analyzer's resolver, not exact match: a case-differing
    // upstream watermark column would otherwise be missed here, and
    // the stage's own withWatermark would then resolve onto that SAME
    // column and silently REDEFINE the horizon — the exact class this
    // helper exists to prevent (review find)
    val r = org.apache.spark.sql.internal.SQLConf.get.resolver
    df.queryExecution.logical.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical
          .EventTimeWatermark if r(e.eventTime.name, timeCol) => e
    }
  }

  def hasWatermark(df: DataFrame, timeCol: String): Boolean =
    existing(df, timeCol).isDefined

  /** `withWatermark` unless one on `timeCol` is already defined — the
    * upstream DELAY then governs. If the stage's own configured delay
    * differs from the upstream one, that substitution changes which
    * in-stream duplicates the horizon catches, so it is LOGGED, not
    * silent (round-18 advice): configure the horizon at the first
    * stage of a chain. */
  def ensure(df: DataFrame, timeCol: String, delay: String): DataFrame =
    existing(df, timeCol) match {
      case Some(e) =>
        try {
          val mine = org.apache.spark.sql.catalyst.util.IntervalUtils
            .stringToInterval(
              org.apache.spark.unsafe.types.UTF8String.fromString(delay))
          val theirs = e.delay
          if (mine.months != theirs.months || mine.days != theirs.days ||
              mine.microseconds != theirs.microseconds)
            logWarning(s"stream already carries a watermark on " +
              s"'$timeCol' with delay '$theirs'; this stage's configured " +
              s"watermarkDelay '$delay' is IGNORED (the upstream horizon " +
              "governs which in-stream duplicates are caught — configure " +
              "the chain's horizon at its first stage)")
        } catch { case scala.util.control.NonFatal(_) => () }
        df
      case None => df.withWatermark(timeCol, delay)
    }
}

/** Event-time params of the streaming dedup faces, plus their shared
  * exact-fingerprint tail: the in-stream defense every face runs after
  * its corpus probe. */
private[streaming] trait HasEventTime extends Params {
  final val timeCol = new Param[String](this, "timeCol", "event-time column")
  setDefault(timeCol -> "ts")
  def setTimeCol(v: String): this.type = set(timeCol, v)
  final val watermarkDelay = new Param[String](this, "watermarkDelay",
    "how long in-stream fingerprints are remembered, e.g. '1 hour'")
  setDefault(watermarkDelay -> "1 hour")
  def setWatermarkDelay(v: String): this.type = set(watermarkDelay, v)

  /** A stream must carry `timeCol`; batch parity mode never touches it. */
  protected def requireEventTime(df: DataFrame): Unit =
    if (df.isStreaming)
      graft.core.SchemaChecks.requireCols(df.schema, "timeCol" -> $(timeCol))

  /** Adds the 128-bit fingerprint pair `(__fp, __fp2)` of `key` — the
    * [[graft.dedup.DedupFunctions.fingerprintPair]], 16 bytes of state
    * per retained row. */
  protected def withFingerprint(df: DataFrame, key: Column): DataFrame = {
    val (fp, fp2) = graft.dedup.DedupFunctions.fingerprintPair(key)
    df.withColumn("__fp", fp).withColumn("__fp2", fp2)
  }

  /** Drops exact repeats on the fingerprint columns `fps` — within the
    * watermark horizon on a stream, outright on batch — then drops
    * `fps`. Rows where `bypass` is null carry no evidence: they skip
    * the dedup and are always kept. The split must test the INPUT's
    * nullness, not the fingerprint's: Spark hash expressions are never
    * null (xxhash64(NULL) returns the seed), so every null row would
    * otherwise collapse into one state key. */
  protected def dropExactRepeats(df: DataFrame, bypass: Option[Column],
      fps: String*): DataFrame = {
    def dedup(d: DataFrame): DataFrame =
      if (d.isStreaming)
        WatermarkUtil.ensure(d, $(timeCol), $(watermarkDelay))
          .dropDuplicatesWithinWatermark(fps)
      else d.dropDuplicates(fps)
    val kept = bypass match {
      case None => dedup(df)
      case Some(c) =>
        dedup(df.filter(c.isNotNull)).unionByName(df.filter(c.isNull))
    }
    kept.drop(fps: _*)
  }
}

/** The probe state a face builds from its corpus index, reused across
  * transform calls and micro-batches while `key` — the params the
  * state depends on — holds, and rebuilt when it changes (a setBands
  * between calls must rebuild, or corpus and batch keys desynchronize).
  * It owns the broadcasts and persisted frames its build registers and
  * frees them on rebuild and on [[release]]. Don't replace the state
  * while a streaming query that uses it has a micro-batch in flight. */
private[streaming] final class ProbeCache[S] {
  private var built: Option[(Any, S)] = None
  private val broadcasts =
    scala.collection.mutable.ArrayBuffer.empty[Broadcast[_]]
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  def apply(key: Any)(build: => S): S = built match {
    case Some((k, s)) if k == key => s
    case _ =>
      release()
      val s = build
      built = Some((key, s))
      s
  }
  def broadcast[T: scala.reflect.ClassTag](sc: SparkContext, v: T)
      : Broadcast[T] = {
    val b = sc.broadcast(v)
    broadcasts += b
    b
  }
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    frames += p
    p
  }
  /** The last broadcast the current state registered. */
  def lastBroadcast: Option[Broadcast[_]] = broadcasts.lastOption
  def release(): Unit = {
    frames.foreach(_.unpersist())
    broadcasts.foreach(_.destroy())
    frames.clear(); broadcasts.clear()
    built = None
  }
}
private[streaming] object ProbeCache {
  /** Collects a corpus index the driver will broadcast, failing fast
    * once it holds more than `cap` rows; `pastCap` names the face's
    * scale paths past the ceiling. */
  def collectCapped(index: DataFrame, cap: Int, pastCap: String)
      : Array[Row] = {
    val rows = index.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"corpus index exceeds maxIndexEntries $cap — $pastCap")
    rows
  }
}

/** Exact deduplication that works identically on batch and streaming
  * frames — the streaming side of [[graft.dedup.ExactDeduplicator]] for
  * continuous training-data ingestion. On a stream, rows carry a
  * watermark on `timeCol` and duplicates are dropped within the watermark
  * horizon via `dropDuplicates` (state is bounded by the watermark — the
  * engine evicts fingerprints older than the delay, so ingest runs
  * forever at constant memory). On batch the same stage is a plain
  * fingerprint dedup.
  *
  * The dedup key is the [[graft.dedup.ExactDeduplicator]] 128-bit
  * fingerprint pair of the canonical text (same canonicalization and
  * collision posture as the batch deduplicators), so state per retained
  * document is 16 bytes + the engine's row overhead, not the document.
  */
class StreamingDeduplicator(override val uid: String) extends Transformer
    with HasInputCol with HasEventTime with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("StreamingDeduplicator"))

  /** Optional static corpus fingerprint index
    * ([[StreamingDeduplicator.fingerprintIndex]]): documents whose
    * fingerprint is already in the curated corpus are filtered BEFORE
    * the in-stream dedup — the streaming face of
    * [[graft.dedup.IncrementalDeduplicator]], keyed on the SAME
    * `(__fp, __fp2)` 128-bit pair (identical canonicalization and
    * collision posture, so one persisted index serves both the batch
    * and the streaming path). Realized as a stream-static left-outer
    * join + null filter (supported in every output mode); the static
    * side is a plain 16-byte-per-doc frame the engine re-scans per
    * micro-batch, so park it in a broadcast-friendly store (parquet,
    * cached) sized accordingly. */
  private var corpusIndex: DataFrame = _
  def setCorpusIndex(df: DataFrame): this.type = { corpusIndex = df; this }

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    val df = ds.toDF()
    requireEventTime(df)
    val withFp = withFingerprint(df,
      graft.dedup.DedupFunctions.canonical(col(getInputCol)))
    val cleared =
      if (corpusIndex == null) withFp
      else withFp.join(
          corpusIndex.select(col("__fp"), col("__fp2")).distinct()
            .withColumn("__hit", lit(1)),
          Seq("__fp", "__fp2"), "left_outer")
        .filter(col("__hit").isNull).drop("__hit")
    // no null bypass: ExactDeduplicator keeps exactly one null-text row
    dropExactRepeats(cleared, None, "__fp", "__fp2")
  }
  override def transformSchema(schema: StructType): StructType = {
    graft.core.SchemaChecks.requireCols(schema, "inputCol" -> getInputCol)
    // __fp/__fp2 are written onto the input frame; __hit anchors the
    // corpus-index filter after the join
    graft.core.SchemaChecks.requireAbsent(schema, "__fp", "__fp2", "__hit")
    schema
  }
  override def copy(extra: ParamMap): StreamingDeduplicator = {
    // per-run attached state survives copy (the IVFNearestNeighborsModel
    // precedent — Pipeline/ParamMap paths call copy on configured stages)
    val c = defaultCopy[StreamingDeduplicator](extra)
    c.corpusIndex = corpusIndex
    c
  }
}
object StreamingDeduplicator
    extends graft.core.GraftReadable[StreamingDeduplicator] {
  /** Distinct 128-bit fingerprint frame `(__fp, __fp2)` — delegates to
    * [[graft.dedup.IncrementalDeduplicator.fingerprintIndex]], so a
    * corpus index persisted by the batch incremental path IS the static
    * side for [[StreamingDeduplicator.setCorpusIndex]]. */
  def fingerprintIndex(df: DataFrame, inputCol: String): DataFrame =
    graft.dedup.IncrementalDeduplicator.fingerprintIndex(df, inputCol)
}

/** Streaming face of the perceptual-fingerprint dedup family
  * ([[graft.image.ImagePHashDeduplicator]] /
  * [[graft.io.binary.AudioFingerprintDeduplicator]] /
  * [[graft.io.binary.VideoFingerprintDeduplicator]]) for continuous
  * media ingestion — without it an incremental media pipeline had to
  * re-batch (round-16 verdict, next-round #7). Two defenses, the
  * [[StreamingDeduplicator]] contract transplanted to 64-bit
  * perceptual fingerprints:
  *
  *  - **against the persisted corpus**: a NEAR-dup probe at the family's
  *    full `maxHamming` radius through the same Manku pigeonhole key
  *    construction the batch operators bucket on — here realized as a
  *    broadcast (key → candidate fingerprints) table probed by a
  *    map-only UDF, zero shuffle per micro-batch. The index is the
  *    8-byte-per-item [[StreamingFingerprintDeduplicator.fingerprintIndex]]
  *    frame (so one persisted index serves batch re-runs and the
  *    stream); the BROADCAST ceiling is explicit — C(blocks,
  *    blocks−maxHamming) keys per item, `maxIndexEntries` fail-fast
  *    (default 2²¹ ≈ 2M items ≈ 0.7 GB at the (6, 4) default's 15
  *    keys). Beyond it, shard the stream by modality/tenant with one
  *    index each, or fold micro-batches through the batch pigeonhole
  *    join — the fail-fast names both, the KNN/PartitionedKNN
  *    convention.
  *  - **within the stream**: EXACT fingerprint repeats are dropped
  *    inside the watermark horizon (engine state = 8 bytes + row
  *    overhead per retained item, evicted past the delay). Hamming>0
  *    in-stream pairs are caught at the next index fold — the same
  *    steady-state contract as [[StreamingDeduplicator]]'s refresh;
  *    for the audio/video contour fingerprints, planted re-encodes are
  *    bit-identical, so in-stream catching is already exact.
  *
  * Null/undecodable payloads fingerprint as null — no evidence — and
  * are always kept (family convention). On a batch frame the same
  * stage runs without the watermark (parity testing). */
class StreamingFingerprintDeduplicator(override val uid: String)
    extends Transformer with HasInputCol with HasEventTime
    with graft.core.GraftWritable {
  def this() =
    this(Identifiable.randomUID("StreamingFingerprintDeduplicator"))

  final val modality = new Param[String](this, "modality",
    "fingerprint kernel: 'image' (DCT pHash), 'audio' (energy contour), " +
      "'video' (luma contour)",
    ParamValidators.inArray(Array("image", "audio", "video")))
  def setModality(v: String): this.type = set(modality, v)
  final val maxHamming = new IntParam(this, "maxHamming",
    "corpus-probe hamming cutoff", ParamValidators.gtEq(0))
  setDefault(maxHamming -> 4)
  def setMaxHamming(v: Int): this.type = set(maxHamming, v)
  final val blocks = new IntParam(this, "blocks",
    "pigeonhole blocks (> maxHamming; the batch family's key lever)",
    ParamValidators.gt(0))
  setDefault(blocks -> 6)
  def setBlocks(v: Int): this.type = set(blocks, v)
  final val maxIndexEntries = new IntParam(this, "maxIndexEntries",
    "fail-fast cap on corpus index items (the probe table is broadcast " +
      "to every executor; see the class scaladoc for the scale paths " +
      "past it)", ParamValidators.gt(0))
  setDefault(maxIndexEntries -> (1 << 21))
  def setMaxIndexEntries(v: Int): this.type = set(maxIndexEntries, v)

  /** Persisted corpus fingerprint index — the one-column `__fp` frame
    * [[StreamingFingerprintDeduplicator.fingerprintIndex]] builds.
    * Replacing it destroys the cached probe broadcast. */
  private var corpusIndex: DataFrame = _
  def setCorpusIndex(df: DataFrame): this.type = {
    corpusIndex = df
    release()
    this
  }

  // (pigeon key -> corpus fingerprints) table, broadcast once per index
  @transient private lazy val probe =
    new ProbeCache[Broadcast[java.util.HashMap[java.lang.Long, Array[Long]]]]
  private[streaming] def cachedProbe: Option[Broadcast[_]] =
    probe.lastBroadcast
  /** Drop the cached probe broadcast. Called automatically when
    * [[setCorpusIndex]] replaces the index; call it explicitly from
    * long-lived drivers that discard the stage. */
  def release(): Unit = probe.release()

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    require($(blocks) > $(maxHamming),
      s"blocks (${$(blocks)}) must exceed maxHamming (${$(maxHamming)})")
    val df = ds.toDF()
    requireEventTime(df)
    val mod = $(modality)
    val fpUdf = udf((b: Array[Byte]) =>
      StreamingFingerprintDeduplicator.fp(mod, b))
    val withFp = df.withColumn("__fp", fpUdf(col(getInputCol)))
    val cleared =
      if (corpusIndex == null) withFp
      else {
        val nb = $(blocks); val mh = $(maxHamming)
        val bc = probe((nb, mh, $(maxIndexEntries))) {
          val fps = ProbeCache.collectCapped(
            corpusIndex.select(col("__fp").cast("long")).na.drop().distinct(),
            $(maxIndexEntries),
            "shard the stream (one index per shard) or fold micro-batches " +
              "through the batch pigeonhole join instead of broadcasting")
            .map(_.getLong(0))
          val buckets = new java.util.HashMap[java.lang.Long,
            scala.collection.mutable.ArrayBuffer[Long]]()
          fps.foreach { f =>
            StreamingFingerprintDeduplicator.pigeonKeys(f, nb, mh).foreach {
              k =>
                val b = buckets.computeIfAbsent(k,
                  _ => scala.collection.mutable.ArrayBuffer.empty[Long])
                b += f
            }
          }
          val packed = new java.util.HashMap[java.lang.Long, Array[Long]](
            buckets.size * 2)
          buckets.forEach((k, b) => packed.put(k, b.toArray))
          probe.broadcast(df.sparkSession.sparkContext, packed)
        }
        val hitUdf = udf { f: Long =>
          val keys = StreamingFingerprintDeduplicator.pigeonKeys(f, nb, mh)
          var hit = false
          var i = 0
          while (i < keys.length && !hit) {
            val cands = bc.value.get(keys(i))
            if (cands != null) {
              var j = 0
              while (j < cands.length && !hit) {
                if (java.lang.Long.bitCount(f ^ cands(j)) <= mh) hit = true
                j += 1
              }
            }
            i += 1
          }
          hit
        }
        withFp.filter(col("__fp").isNull || !hitUdf(col("__fp")))
      }
    // in-stream exact-fp dedup; the perceptual fingerprint is null
    // exactly when the payload carries no evidence
    dropExactRepeats(cleared, Some(col("__fp")), "__fp")
  }
  override def transformSchema(schema: StructType): StructType = {
    graft.core.SchemaChecks.requireCols(schema, "inputCol" -> getInputCol)
    graft.core.SchemaChecks.requireAbsent(schema, "__fp")
    schema
  }
  override def copy(extra: ParamMap): StreamingFingerprintDeduplicator = {
    val c = defaultCopy[StreamingFingerprintDeduplicator](extra)
    c.corpusIndex = corpusIndex // the probe cache stays per-instance
    c
  }
}
object StreamingFingerprintDeduplicator
    extends graft.core.GraftReadable[StreamingFingerprintDeduplicator] {
  private[streaming] def fp(modality: String, b: Array[Byte])
      : java.lang.Long = modality match {
    case "audio" => graft.io.binary.AudioFingerprint.fp64(b)
    case "video" => graft.io.binary.VideoFingerprint.fp64(b)
    case _ => graft.image.PerceptualHash.phash64(b)
  }

  /** Distinct 64-bit fingerprint frame `(__fp)` over a payload column —
    * persist it once per corpus fold; it serves every subsequent
    * streaming epoch (8 bytes per distinct item). */
  def fingerprintIndex(df: DataFrame, inputCol: String, modality: String)
      : DataFrame = {
    val fpUdf = udf((b: Array[Byte]) => fp(modality, b))
    df.select(fpUdf(col(inputCol)).as("__fp"))
      .filter(col("__fp").isNotNull).distinct()
  }

  /** The Manku block-permutation keys of
    * [[graft.dedup.DedupFunctions.hammingDupIds]], computed driver/UDF
    * side: C(blocks, blocks−maxHamming) xxhash64-chained combo keys.
    * Self-consistent between index build and probe (both call this);
    * NOT bit-compatible with the batch column keys and doesn't need to
    * be — the probe never joins the batch frames. */
  private[graft] def pigeonKeys(fpv: Long, nBlocks: Int, maxHamming: Int)
      : Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val base = 64 / nBlocks; val rem = 64 % nBlocks
    val widths = (0 until nBlocks).map(i => base + (if (i < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(i: Int): Long =
      (fpv >>> offsets(i)) & (-1L >>> (64 - widths(i)))
    val combos =
      (0 until nBlocks).combinations(nBlocks - maxHamming).toArray
    combos.zipWithIndex.map { case (bs, ci) =>
      var h = XXH64.hashLong(ci.toLong, 42L)
      bs.foreach(b => h = XXH64.hashLong(blockVal(b), h))
      h
    }
  }
}

/** Streaming face of the MinHash NEAR-dup family for continuous text
  * ingestion — completes the streaming dedup story
  * ([[StreamingDeduplicator]] = exact text,
  * [[StreamingFingerprintDeduplicator]] = perceptual media, this =
  * near-dup text). The [[graft.dedup.IncrementalMinHashDeduplicator]]
  * signature-mode contract transplanted to the engine:
  *
  *  - **against the persisted corpus**: each stream document's MinHash
  *    signature (the SAME `minHashSignature(hashedShingles(...))`
  *    column expressions the batch family computes, so one persisted
  *    [[graft.dedup.IncrementalMinHashDeduplicator.signatureIndex]]
  *    serves batch re-runs AND the stream) probes a broadcast
  *    (band-key → candidate signatures) table; a candidate whose
  *    signature-agreement estimate reaches `threshold` drops the row.
  *    Map-only per micro-batch, zero shuffle. The broadcast holds the
  *    full signatures (`numHashes` longs ≈ 1 KB/doc at the default), so
  *    the `maxIndexEntries` ceiling is lower than the fingerprint
  *    face's (default 2¹⁹ ≈ 512 MB); past it, shard the stream with one
  *    index per shard or fold micro-batches through the batch band
  *    join — the fail-fast names both.
  *  - **within the stream**: EXACT canonical-text repeats drop inside
  *    the watermark horizon (the [[StreamingDeduplicator]] 128-bit
  *    state shape). In-stream NEAR-dup pairs are caught at the next
  *    index fold — the family's steady-state refresh contract.
  *
  * **Estimate-vs-exact contract.** This stage decides corpus drops on
  * the signature-AGREEMENT estimate of Jaccard (`threshold` compares
  * against agreement, se ≈ sqrt(t(1−t)/numHashes) ≈ 0.035 at t=0.8 /
  * 128 hashes), the [[graft.dedup.IncrementalMinHashDeduplicator]]
  * `signature` mode — only the index is ever read, never the corpus
  * text. The BATCH [[graft.dedup.MinHashDeduplicator]] instead
  * verifies candidates by EXACT shingle Jaccard, so a pair whose true
  * Jaccard sits within ~2 se of the threshold can decide differently
  * between the batch and streaming paths. That is the documented trade
  * for a text-free probe; pipelines that need batch-identical
  * decisions at the cutoff attach the raw corpus ([[setCorpus]]) and
  * drive [[transformMicroBatch]]: the verify rule follows the attached
  * corpus, so the tier-2 verify then IS the batch exact-Jaccard rule
  * (corpus shingles are computed once per index reference and
  * persisted).
  *
  * **Past the broadcast ceiling — [[transformMicroBatch]]** (the
  * two-tier large-index mode, round-18): instead of broadcasting full
  * signatures, broadcast only a Bloom filter of the corpus BAND KEYS
  * (~7 bits/key at the fixed 3% false-positive rate vs numHashes·8
  * bytes/signature — ~2 orders of magnitude more index entries per
  * broadcast MB) and verify the flagged minority through a per-batch
  * distributed equi-join on the persisted index. Bloom filters have no
  * false negatives, so tier 1 never loses a candidate; false positives
  * only cost a wasted tier-2 verify. Drive it from `foreachBatch`
  * (fold each batch's survivors into the index for the next epoch —
  * the incremental family's refresh); the DSL `transform` path stays
  * the small-index fast path with in-map verification and zero
  * per-batch shuffle. */
class StreamingMinHashDeduplicator(override val uid: String)
    extends Transformer with HasInputCol with HasEventTime
    with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("StreamingMinHashDeduplicator"))

  final val shingleSize = new IntParam(this, "shingleSize", "word shingle k",
    ParamValidators.gt(0))
  setDefault(shingleSize -> 3)
  def setShingleSize(v: Int): this.type = set(shingleSize, v)
  final val numHashes = new IntParam(this, "numHashes", "signature length",
    ParamValidators.gt(0))
  setDefault(numHashes -> 128)
  def setNumHashes(v: Int): this.type = set(numHashes, v)
  final val bands = new IntParam(this, "bands", "LSH bands",
    ParamValidators.gt(0))
  setDefault(bands -> 32)
  def setBands(v: Int): this.type = set(bands, v)
  final val threshold = new DoubleParam(this, "threshold",
    "Jaccard cutoff (signature-agreement estimate)",
    ParamValidators.inRange(0.0, 1.0))
  setDefault(threshold -> 0.8)
  def setThreshold(v: Double): this.type = set(threshold, v)
  final val maxIndexEntries = new IntParam(this, "maxIndexEntries",
    "fail-fast cap on corpus index entries (full signatures are " +
      "broadcast — see the class scaladoc for the scale paths past it)",
    ParamValidators.gt(0))
  setDefault(maxIndexEntries -> (1 << 19))
  def setMaxIndexEntries(v: Int): this.type = set(maxIndexEntries, v)
  final val maxBucketSize = new IntParam(this, "maxBucketSize",
    "transformMicroBatch tier 2: per-band-bucket corpus candidate cap " +
      "(skew guard, the incremental family's bounded aggregator; " +
      "overflow counts in the <uid>_dropped observation)",
    ParamValidators.gt(0))
  setDefault(maxBucketSize -> 1000)
  def setMaxBucketSize(v: Int): this.type = set(maxBucketSize, v)
  /** Persisted corpus `(__id, __sig)` signature index — the batch
    * family's [[graft.dedup.IncrementalMinHashDeduplicator.signatureIndex]].
    * Replacing it destroys the cached probe state and DETACHES any raw
    * corpus an earlier [[setCorpus]] attached, so verification falls
    * back to signature agreement over the new index: a fold that swaps
    * in the index grown by each batch's survivors never verifies
    * against the old text, which lacks the folded documents. A fold
    * that wants exact verification re-attaches [[setCorpus]] (covering
    * the folded documents) after the swap. Don't swap it while a
    * streaming query that references this stage has a micro-batch in
    * flight (stop or restart the query around the swap). */
  private var corpusIndex: DataFrame = _
  def setCorpusIndex(df: DataFrame): this.type = {
    corpusIndex = df
    corpusRaw = null
    release()
    this
  }

  /** Raw corpus documents — id + text under the SAME columns the
    * signature index was built from. Attaching them switches
    * [[transformMicroBatch]]'s tier-2 verify from signature agreement
    * (the text-free steady state) to exact shingle Jaccard, making
    * streaming corpus decisions batch-identical at the cutoff (one
    * shingle pass, cached per index reference). Call it after
    * [[setCorpusIndex]], which detaches the raw corpus. The DSL
    * [[transform]] refuses a stage with a raw corpus attached. */
  private var corpusRaw: DataFrame = _
  def setCorpus(df: DataFrame, idCol: String, textCol: String): this.type = {
    corpusRaw = df.select(col(idCol).cast("long").as("__cid"),
      col(textCol).as("__ctext"))
    release()
    this
  }

  /** Drop the cached probe state (persisted frames + broadcasts).
    * Called automatically when [[setCorpusIndex]]/[[setCorpus]] replace
    * the corpus state; call it explicitly from long-lived drivers that
    * discard the stage. */
  def release(): Unit = { probe.release(); microBatchProbe.release() }

  // the transform path's (signatures, band key -> signature rows) table
  @transient private lazy val probe = new ProbeCache[Broadcast[
    (Array[Array[Long]], java.util.HashMap[java.lang.Long, Array[Int]])]]
  private[streaming] def cachedProbe: Option[Broadcast[_]] =
    probe.lastBroadcast

  override def transform(ds: Dataset[_]): DataFrame = {
    import graft.dedup.DedupFunctions._
    transformSchema(ds.schema)
    val df = ds.toDF()
    requireEventTime(df)
    val r = $(numHashes) / $(bands)
    require(r > 0, s"numHashes (${$(numHashes)}) must be >= bands (${$(bands)})")
    require(corpusRaw == null,
      "exact verification against the raw corpus (setCorpus) needs the " +
        "per-batch corpus join — drive transformMicroBatch from " +
        "foreachBatch (the DSL path's broadcast probe is text-free by " +
        "design)")
    val withSig = df.withColumn("__sig",
      minHashSignature(hashedShingles(col(getInputCol), $(shingleSize)),
        $(numHashes)))
    val cleared =
      if (corpusIndex == null) withSig
      else {
        val nb = $(bands); val rr = r
        val bc = probe((nb, rr, $(maxIndexEntries))) {
          val sigs: Array[Array[Long]] = ProbeCache.collectCapped(
            corpusIndex.select(col("__sig").cast(ArrayType(LongType)))
              .na.drop().distinct(),
            $(maxIndexEntries),
            "drive transformMicroBatch from foreachBatch (the two-tier " +
              "Bloom-prefiltered band join; no signature broadcast), shard " +
              "the stream (one index per shard), or fold micro-batches " +
              "through IncrementalMinHashDeduplicator's batch band join")
            .map(_.getSeq[Long](0).toArray)
          val buckets = new java.util.HashMap[java.lang.Long,
            scala.collection.mutable.ArrayBuffer[Int]]()
          var i = 0
          while (i < sigs.length) {
            var b = 0
            while (b < nb) {
              val k = StreamingMinHashDeduplicator.bandKey(sigs(i), b, rr)
              val buf = buckets.computeIfAbsent(k,
                _ => scala.collection.mutable.ArrayBuffer.empty[Int])
              buf += i
              b += 1
            }
            i += 1
          }
          val packed = new java.util.HashMap[java.lang.Long, Array[Int]](
            buckets.size * 2)
          buckets.forEach((k, b) => packed.put(k, b.toArray))
          probe.broadcast(df.sparkSession.sparkContext, (sigs, packed))
        }
        val thr = $(threshold)
        val hitUdf = udf { sig: Seq[Long] =>
          val s = sig.toArray
          val (table, idx) = (bc.value._1, bc.value._2)
          var hit = false
          var b = 0
          while (b < nb && !hit) {
            val cands = idx.get(
              StreamingMinHashDeduplicator.bandKey(s, b, rr))
            if (cands != null) {
              var j = 0
              while (j < cands.length && !hit) {
                val c = table(cands(j))
                var agree = 0
                var t = 0
                val m = math.min(s.length, c.length)
                while (t < m) { if (s(t) == c(t)) agree += 1; t += 1 }
                if (agree.toDouble / m >= thr) hit = true
                j += 1
              }
            }
            b += 1
          }
          hit
        }
        withSig.filter(col("__sig").isNull || !hitUdf(col("__sig")))
      }
    // in-stream exact canonical dedup (the StreamingDeduplicator state
    // shape); null text bypasses the state — no evidence, always kept.
    // __sig drops BEFORE the stateful dedup — ~numHashes×8 ≈ 1 KB/row
    // that the state-store exchange has no reason to carry.
    dropExactRepeats(
      withFingerprint(cleared.drop("__sig"), canonical(col(getInputCol))),
      Some(col(getInputCol)), "__fp", "__fp2")
  }

  // transformMicroBatch's probe state: the capped (band key -> corpus
  // id) frame persists executor-side and the Bloom filter of its keys
  // broadcasts ONCE (re-broadcasting the O(index) filter per micro-batch
  // would contradict the O(batch) per-batch-bytes contract). The last
  // slot is the corpus shingle frame when a raw corpus is attached.
  @transient private lazy val microBatchProbe = new ProbeCache[(DataFrame,
    DataFrame, Broadcast[org.apache.spark.util.sketch.BloomFilter],
    Option[DataFrame])]

  /** The large-index corpus probe, for `foreachBatch` — same decisions
    * as [[transform]]'s broadcast path (band candidacy, then
    * signature-agreement ≥ `threshold`; Bloom tier 1 has no false
    * negatives) with NO signature broadcast, so the index is bounded
    * by cluster disk instead of executor memory:
    *
    *  1. tier 1 (map-only): each document's `bands` band keys probe the
    *     broadcast Bloom filter of corpus band keys; no hit — the
    *     overwhelming majority on a mostly-novel stream — passes
    *     without touching the join;
    *  2. tier 2 (distributed): flagged documents explode their band
    *     keys into an equi-join against the persisted index's capped
    *     (key → corpus id) frame (per-bucket `maxBucketSize`, drop
    *     metric — the incremental family's skew guard), verify by
    *     [[graft.dedup.DedupFunctions.sigAgreement]] against corpus
    *     signatures joined back by id, and drop on any hit. Decisions
    *     ride the 128-bit canonical fingerprint, which determines the
    *     signature, so canonical-equal copies always decide together;
    *  3. within the batch, exact canonical repeats collapse (smallest
    *     arbitrary copy — the engine-state analogue). Cross-batch
    *     repeats are the caller's index fold: union each batch's
    *     surviving signatures onto the index for the next epoch.
    *
    * The corpus index should be a storage-backed (parquet) frame — tier
    * 2 re-joins it per micro-batch; the derived band-key frame is
    * persisted here once per index reference. */
  def transformMicroBatch(batch: DataFrame): DataFrame = {
    import graft.dedup.DedupFunctions._
    transformSchema(batch.schema)
    require(!batch.isStreaming,
      "transformMicroBatch expects the PLAIN batch frame foreachBatch " +
        "hands over, not a streaming frame (use transform for the DSL " +
        "path)")
    require(corpusIndex != null, "setCorpusIndex first (signatureIndex)")
    val r = $(numHashes) / $(bands)
    require(r > 0,
      s"numHashes (${$(numHashes)}) must be >= bands (${$(bands)})")
    val shape = ($(bands), $(numHashes), $(maxBucketSize), $(shingleSize))
    val (cKeyed, cSigs, bcBloom, cShingles) = microBatchProbe(shape) {
      val k = microBatchProbe.persist(cappedCorpusBands(corpusIndex,
        $(bands), r, $(maxBucketSize), s"${uid}_dropped"))
      val n = math.max(1L, k.count()) // also materializes the persist
      val b = microBatchProbe.broadcast(batch.sparkSession.sparkContext,
        k.stat.bloomFilter("__key", n,
          StreamingMinHashDeduplicator.PrefilterFpp))
      // NOT persisted/repartitioned: the tier-2 verify joins this
      // side by __cid against a broadcast O(batch) frame — the scan
      // is cheap per row, and a measured attempt to repartition +
      // persist the ~1 GB frame at the 1M-entry nameplate REGRESSED
      // steady-state 13.0 -> 17.5 s/batch (GC pressure from caching
      // signatures the broadcast join streams through fine)
      val s = corpusIndex.select(col("__id").as("__cid"),
        col("__sig").as("__csig"))
      // a raw corpus is reread ONCE per index reference:
      // the shingle frame (numHashes-independent) persists beside the
      // band frame and is the tier-2 scan side every batch. Unlike
      // the streamed-through cSigs above, this frame's split count
      // is FROZEN by the persist — repartition at build time or a
      // single-file corpus pins every batch's exact-verify pass to
      // ~3 of 32 cores (the semantic face's measured stranding,
      // review find)
      val sh = Option(corpusRaw).map(raw => microBatchProbe.persist(raw
        .select(col("__cid"),
          hashedShingles(col("__ctext"), $(shingleSize)).as("__csh"))
        .repartition(batch.sparkSession.sparkContext.defaultParallelism)))
      (k, s, b, sh)
    }
    val mightUdf = udf { keys: Seq[Long] =>
      var i = 0
      var hit = false
      while (i < keys.length && !hit) {
        if (bcBloom.value.mightContainLong(keys(i))) hit = true
        i += 1
      }
      hit
    }
    val keyed = withFingerprint(batch, canonical(col(getInputCol)))
    // one signature per DISTINCT canonical fingerprint: the tokenizer
    // lowercases and splits on whitespace, so canonical-equal texts
    // shingle identically and the fp determines the signature (exact
    // mode also carries the shingle set itself for the tier-2 verify)
    val sigs = keyed.filter(col(getInputCol).isNotNull)
      .select((Seq(col("__fp"), col("__fp2"),
        minHashSignature(hashedShingles(col(getInputCol), $(shingleSize)),
          $(numHashes)).as("__sig")) ++
        (if (cShingles.isDefined)
          Seq(hashedShingles(col(getInputCol), $(shingleSize)).as("__sh"))
        else Nil)): _*)
      .dropDuplicates("__fp", "__fp2")
      .withColumn("__keys", bandHashes(col("__sig"), $(bands), r))
    val flagged = sigs.filter(mightUdf(col("__keys")))
    // per-batch joins keep the BIG sides (the 32M-row band frame, the
    // 1 GB signature index) as streamed scan sides and broadcast the
    // O(batch) sides: the first formulation joined them the default
    // way and the x100 nameplate measured 44 s/batch of band-frame
    // shuffle+sort; broadcasting the exploded batch keys (24 B/row)
    // and the candidate subset cut it to index-scan time. Per-batch
    // broadcast bytes stay O(batch size), never O(index).
    val flaggedKeys = flagged
      .select(col("__fp"), col("__fp2"), explode(col("__keys")).as("__key"))
    val candPairs = cKeyed.join(broadcast(flaggedKeys), Seq("__key"))
      .select(col("__fp"), col("__fp2"), col("__cid")).distinct()
    val dropFps = cShingles match {
      case None => // no raw corpus: verify against the index alone
        val withBatchSig = candPairs.join(
          flagged.select(col("__fp"), col("__fp2"), col("__sig")),
          Seq("__fp", "__fp2"))
        cSigs.join(broadcast(withBatchSig), Seq("__cid"))
          .filter(sigAgreement(col("__sig"), col("__csig")) >= $(threshold))
          .select(col("__fp"), col("__fp2")).distinct()
      case Some(csh) =>
        // raw corpus attached: band candidacy is unchanged (tier 1 +
        // band join — Bloom has no false negatives), but candidates
        // verify by EXACT shingle Jaccard against the persisted corpus
        // shingle frame, so corpus-drop decisions are batch-identical at
        // the cutoff (the IncrementalMinHashDeduplicator setCorpus rule).
        // Same join shape: broadcast the O(batch) side, scan the frame.
        val withBatchSh = candPairs.join(
          flagged.select(col("__fp"), col("__fp2"), col("__sh")),
          Seq("__fp", "__fp2"))
        csh.join(broadcast(withBatchSh), Seq("__cid"))
          .filter(jaccard(col("__sh"), col("__csh")) >= $(threshold))
          .select(col("__fp"), col("__fp2")).distinct()
    }
    // within-batch exact canonical dedup (nulls bypass — no evidence)
    dropExactRepeats(keyed.join(dropFps, Seq("__fp", "__fp2"), "left_anti"),
      Some(col(getInputCol)), "__fp", "__fp2")
  }

  override def transformSchema(schema: StructType): StructType = {
    graft.core.SchemaChecks.requireCols(schema, "inputCol" -> getInputCol)
    graft.core.SchemaChecks.requireAbsent(schema, "__sig", "__fp", "__fp2")
    schema
  }
  override def copy(extra: ParamMap): StreamingMinHashDeduplicator = {
    val c = defaultCopy[StreamingMinHashDeduplicator](extra)
    c.corpusIndex = corpusIndex // probe caches stay per-instance (rebuilt)
    c.corpusRaw = corpusRaw
    c
  }
}
object StreamingMinHashDeduplicator
    extends graft.core.GraftReadable[StreamingMinHashDeduplicator] {
  /** One persisted index, both engines — delegates to the batch
    * family's builder. */
  def signatureIndex(df: DataFrame, idCol: String, inputCol: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    graft.dedup.IncrementalMinHashDeduplicator.signatureIndex(
      df, idCol, inputCol, shingleSize, numHashes)

  /** [[StreamingMinHashDeduplicator.transformMicroBatch]] tier 1: the
    * false-positive rate of the broadcast band-key Bloom prefilter. A
    * false positive costs a wasted tier-2 verify, never a wrong
    * decision. */
  private val PrefilterFpp = 0.03

  /** Band key of signature entries [b·r, b·r+r): xxhash64-chained.
    * Self-consistent between index build and probe; NOT bit-compatible
    * with the batch column `bandHashes` and doesn't need to be (the
    * probe never joins the batch frames). */
  private[graft] def bandKey(sig: Array[Long], b: Int, r: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    var h = XXH64.hashLong(b.toLong, 42L)
    var i = b * r
    val end = math.min(sig.length, i + r)
    while (i < end) { h = XXH64.hashLong(sig(i), h); i += 1 }
    h
  }
}

/** Streaming face of SEMANTIC dedup — the last open cell of the
  * batch/incremental/streaming × exact/near-dup/perceptual/semantic
  * dedup matrix (round-17 verdict, next-round #1). The
  * [[graft.dedup.IncrementalSemDeDup]] snapshot-delta machinery
  * transplanted to the engine, on the family's two-defense contract:
  *
  *  - **against the persisted corpus**: the fitted quantizer (the
  *    incremental model's complex Param — set it via [[setFromModel]]
  *    so stream and batch share ONE cell partition) and a
  *    (cell → corpus embedding buffer) table built from the persisted
  *    [[graft.dedup.IncrementalSemDeDupModel.indexCorpus]] index
  *    broadcast to the executors; each stream document assigns its
  *    cell and exact-cosine-verifies against that cell's buffer,
  *    map-only per micro-batch, zero shuffle. A document within
  *    `threshold` cosine of ANY same-cell corpus member drops — the
  *    corpus copy always survives (the incremental-family convention).
  *    This is the family's FATTEST per-entry index — full embedding
  *    vectors, ~(dim·8 + 40) B/entry (~150 MB at dim 64 and the 2¹⁸
  *    default `maxIndexEntries`) vs 8 B for fingerprints — so the
  *    fail-fast ceiling is the lowest; past it, shard the stream by
  *    modality/tenant (one index each) or fold micro-batches through
  *    [[graft.dedup.IncrementalSemDeDupModel.transform]] (the batch
  *    cell-to-cell join, no broadcast) — the fail-fast names both.
  *  - **within the stream**: EXACT embedding repeats (bit-identical
  *    vectors, hashed as a 128-bit xxhash64 pair of the raw array)
  *    drop inside the watermark horizon; state per retained document
  *    is 16 bytes + row overhead, never the vector. Near-dup in-stream
  *    pairs are caught at the next index fold — the family's
  *    steady-state refresh contract ([[StreamingDeduplicator]],
  *    [[StreamingFingerprintDeduplicator]]).
  *
  * Recall contract: identical to the incremental face — a stream
  * document within `threshold` of a corpus member in an ADJACENT cell
  * is missed (see the [[graft.dedup.IncrementalSemDeDup]] scaladoc;
  * a single-cell quantizer is the exhaustive, SQL-replayable setting).
  * Cosines follow the family arithmetic: zero-norm pairs are NaN and
  * count as duplicates. Null embeddings carry no evidence — they skip
  * both defenses and always pass. On a batch frame the same stage runs
  * without the watermark (parity testing).
  *
  * **Single-cell spread.** A map-only probe inherits the SOURCE's split
  * count. When the quantizer has exactly one cell, every document
  * probes the whole corpus, and on a few-split source that fat probe
  * strands the executors (the round-18 x100 sweep measured the
  * single-file exhaustive fixture at ~2 of 32 cores). So a single-cell
  * [[transform]] repartitions each micro-batch across all slots before
  * the probe, paying one payload shuffle; a multi-cell quantizer's
  * probe (~256 members at the auto-k operating point) is cheap and runs
  * in place. The [[graft.dedup.FingerprintDeduplicatorBase.spreadDecode]]
  * lever, decided by the cell count instead of an option. */
class StreamingSemDeDup(override val uid: String)
    extends Transformer with HasInputCol with HasEventTime
    with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("StreamingSemDeDup"))

  final val threshold = new DoubleParam(this, "threshold",
    "cosine cutoff", ParamValidators.inRange(-1.0, 1.0))
  setDefault(threshold -> 0.95)
  def setThreshold(v: Double): this.type = set(threshold, v)
  final val maxIndexEntries = new IntParam(this, "maxIndexEntries",
    "fail-fast cap on corpus index entries (full embedding vectors are " +
      "broadcast — see the class scaladoc for the scale paths past it)",
    ParamValidators.gt(0))
  setDefault(maxIndexEntries -> (1 << 18))
  def setMaxIndexEntries(v: Int): this.type = set(maxIndexEntries, v)

  /** The fitted cell partition — MUST be the same quantizer that built
    * the corpus index (one partition, batch and stream; a complex
    * Param, so it persists with the stage). */
  final val quantizer = new Param[graft.dedup.SemDeDup.Quantizer](this,
    "quantizer", "fitted spherical quantizer (from IncrementalSemDeDup)")
  def setQuantizer(q: graft.dedup.SemDeDup.Quantizer): this.type =
    set(quantizer, q)

  /** Copy the quantizer and threshold from a fitted
    * [[graft.dedup.IncrementalSemDeDupModel]] — the one-line wiring for
    * "fit once on the corpus, probe the same partition from the
    * stream". */
  def setFromModel(m: graft.dedup.IncrementalSemDeDupModel): this.type = {
    set(quantizer, m.getOrDefault(m.quantizer))
    set(threshold, m.getOrDefault(m.threshold))
  }

  /** Persisted corpus embedding index — the `(__id, __v, __cell,
    * __csim)` frame from
    * [[graft.dedup.IncrementalSemDeDupModel.indexCorpus]]; only
    * `__v`/`__cell` are consumed here. */
  private var corpusIndex: DataFrame = _
  /** Replacing the index destroys the cached probe broadcasts — don't
    * swap it while a streaming query that references this stage has a
    * micro-batch in flight (restart the query around the swap, the
    * [[StreamingMinHashDeduplicator.setCorpusIndex]] contract). */
  def setCorpusIndex(df: DataFrame): this.type = {
    corpusIndex = df
    release()
    this
  }

  // the transform path's (quantizer, cell -> corpus vectors) broadcasts
  @transient private lazy val probe = new ProbeCache[(Broadcast[
    graft.dedup.SemDeDup.Quantizer],
    Broadcast[java.util.HashMap[Integer, Array[Array[Double]]]])]
  private[streaming] def cachedProbe: Option[Broadcast[_]] =
    probe.lastBroadcast
  /** Drop the cached probe state (persisted frames + broadcasts).
    * Called automatically when [[setCorpusIndex]] replaces the index;
    * call it explicitly from long-lived drivers that discard the
    * stage. */
  def release(): Unit = { probe.release(); microBatchProbe.release() }

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    require(isSet(quantizer),
      "setQuantizer (or setFromModel) first — the stream must assign " +
        "cells under the SAME partition that built the corpus index")
    val df0 = ds.toDF()
    requireEventTime(df0)
    // the single-cell spread (class scaladoc)
    val spread = graft.dedup.SemDeDup.cells($(quantizer)) == 1
    val df =
      if (spread)
        df0.repartition(df0.sparkSession.sparkContext.defaultParallelism)
      else df0
    val vCol = col(getInputCol).cast(ArrayType(DoubleType))
    val cleared =
      if (corpusIndex == null) df
      else {
        val (bcq, bct) = probe(($(quantizer), $(maxIndexEntries))) {
          val rows = ProbeCache.collectCapped(
            corpusIndex.select(col("__cell").cast("int"), col("__v")).na.drop(),
            $(maxIndexEntries),
            "drive transformMicroBatch from foreachBatch (the two-tier " +
              "occupied-cell prefilter + per-batch cell join; no vector " +
              "broadcast), shard the stream (one index per shard), or " +
              "fold micro-batches through IncrementalSemDeDupModel" +
              ".transform (the batch cell-to-cell join)")
          val byCell = new java.util.HashMap[Integer,
            scala.collection.mutable.ArrayBuffer[Array[Double]]]()
          rows.foreach { r =>
            val b = byCell.computeIfAbsent(r.getInt(0),
              _ => scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
            b += r.getSeq[Double](1).toArray
          }
          val packed = new java.util.HashMap[Integer, Array[Array[Double]]](
            byCell.size * 2)
          byCell.forEach((k, b) => packed.put(k, b.toArray))
          val sc = df.sparkSession.sparkContext
          (probe.broadcast(sc, $(quantizer)), probe.broadcast(sc, packed))
        }
        val thr = $(threshold)
        val hitUdfRaw = udf { v: Seq[Double] =>
          val cell = graft.dedup.SemDeDup.assign(bcq.value, v)._1
          val cands = bct.value.get(cell)
          var hit = false
          if (cands != null) {
            val a = v.toArray
            var j = 0
            while (j < cands.length && !hit) {
              hit = graft.dedup.SemDeDup.cosineDup(a, cands(j), thr)
              j += 1
            }
          }
          hit
        }
        // PushDownPredicates happily pushes a DETERMINISTIC filter back
        // through the Repartition, silently undoing the spread (the
        // round-18 x100 re-measure caught it: 431 s, still ~5 of 32
        // cores). The probe is pure — the nondeterministic marker only
        // pins its placement above the exchange.
        val hitUdf = if (spread) hitUdfRaw.asNondeterministic() else hitUdfRaw
        df.filter(vCol.isNull || !hitUdf(vCol))
      }
    // in-stream exact-embedding dedup: 128-bit hash pair of the raw
    // array (identical arrays collide, distinct ones don't at any
    // realistic corpus size); null embeddings bypass the state
    dropExactRepeats(withFingerprint(cleared, col(getInputCol)),
      Some(col(getInputCol)), "__fp", "__fp2")
  }
  // transformMicroBatch's probe state, per quantizer: the narrow
  // (cell, vector) index projection persists executor-side; the
  // occupied-cell BitSet — EXACT, unlike the MinHash face's Bloom,
  // because cell ids are dense ints bounded by the quantizer's cell
  // count (~cells/8 bytes, 0.5 MB at 4M cells) — broadcasts once.
  @transient private lazy val microBatchProbe = new ProbeCache[(DataFrame,
    Broadcast[graft.dedup.SemDeDup.Quantizer], Broadcast[java.util.BitSet])]
  private[streaming] def cachedFbProbe: Option[Broadcast[_]] =
    microBatchProbe.lastBroadcast

  /** The large-index corpus probe, for `foreachBatch` — same decisions
    * as [[transform]]'s broadcast path (cell candidacy under the shared
    * quantizer, then exact cosine ≥ `threshold`, NaN counts as
    * duplicate) with NO index broadcast, so the index — the family's
    * fattest, ~dim·8 B/entry — is bounded by cluster disk instead of
    * executor memory (round-18 verdict next-round #5; the
    * [[StreamingMinHashDeduplicator.transformMicroBatch]] contract —
    * per-batch broadcast bytes stay O(batch), never O(index)):
    *
    *  1. tier 1 (map-only): each distinct batch embedding assigns its
    *     cell under the broadcast quantizer and probes the broadcast
    *     BitSet of OCCUPIED cells; an empty cell — the overwhelming
    *     majority of a well-spread partition on a mostly-novel
    *     stream — passes without ever reaching tier 2. The BitSet is
    *     exact (no false positives, unlike the MinHash face's Bloom).
    *  2. tier 2 (distributed, index-scan side): the flagged minority
    *     broadcasts as a plain (cell → batch members) table — the DSL
    *     path's own mechanism with the roles REVERSED — and ONE
    *     map-only pass over the persisted (cell, vector) index
    *     projection emits the fingerprints of batch members within
    *     `threshold` of each corpus entry. The per-executor table
    *     deserializes ONCE; per-corpus-row work is O(batch members in
    *     its cell). A cell-buffer equi-join was measured 15× worse at
    *     10x (129 s vs the DSL path's 8.7 s at sf0.1): every joined
    *     row re-deserialized its cell's whole buffer — the round-16
    *     payload-per-pair trap. No corpus-side cap is needed: nothing
    *     materializes O(pairs), so decisions are EXACTLY the DSL
    *     path's at any cell size.
    *  3. within the batch, exact-embedding repeats collapse on the
    *     128-bit hash pair (which determines the vector, so decisions
    *     ride it — bit-identical copies always decide together).
    *     Cross-batch repeats are the caller's index fold: union each
    *     batch's surviving index rows onto the corpus index for the
    *     next epoch.
    *
    * The corpus index should be a storage-backed (parquet) frame —
    * the narrow (cell, vector) projection is persisted here once per
    * index reference; tier 2 re-scans it per micro-batch. The
    * per-batch batch-members broadcast is cleaned by Spark's
    * ContextCleaner when the batch's plan is garbage-collected. */
  def transformMicroBatch(batch: DataFrame): DataFrame = {
    transformSchema(batch.schema)
    require(!batch.isStreaming,
      "transformMicroBatch expects the PLAIN batch frame foreachBatch " +
        "hands over, not a streaming frame (use transform for the DSL " +
        "path)")
    require(isSet(quantizer),
      "setQuantizer (or setFromModel) first — the stream must assign " +
        "cells under the SAME partition that built the corpus index")
    require(corpusIndex != null, "setCorpusIndex first (indexCorpus)")
    val q = $(quantizer)
    val (cIdx, bcq, bcBits) = microBatchProbe(q) {
      // the probe work lives on THIS scan side — a few-split source
      // (one parquet file at small SF, a localCheckpoint lineage)
      // would strand the per-batch pass on 2-3 of 32 cores (the
      // single-cell spread lesson, transplanted to the index side:
      // the x100 gate measured 909 s stranded vs 75.7 s spread).
      // One repartition at build time; every batch scans 32 cached
      // splits.
      val ci = microBatchProbe.persist(corpusIndex
        .select(col("__cell").cast("int").as("__cell"), col("__v"))
        .na.drop() // no-evidence index rows, the DSL path's posture
        .repartition(batch.sparkSession.sparkContext.defaultParallelism))
      val bits = new java.util.BitSet(graft.dedup.SemDeDup.cells(q))
      // one row per occupied cell — O(cells), not O(index)
      ci.select(col("__cell")).distinct().collect()
        .foreach(r => bits.set(r.getInt(0)))
      val sc = batch.sparkSession.sparkContext
      (ci, microBatchProbe.broadcast(sc, q), microBatchProbe.broadcast(sc, bits))
    }
    val vCol = col(getInputCol).cast(ArrayType(DoubleType))
    val assignUdf = udf((v: Seq[Double]) =>
      graft.dedup.SemDeDup.assign(bcq.value, v)._1)
    val occUdf = udf((c: Int) => bcBits.value.get(c))
    val keyed = withFingerprint(batch, col(getInputCol))
    // one cell assignment per DISTINCT embedding: the 128-bit pair
    // determines the vector bit-exactly
    val vecs = keyed.filter(col(getInputCol).isNotNull)
      .select(col("__fp"), col("__fp2"), vCol.as("__bv"))
      .dropDuplicates("__fp", "__fp2")
      .withColumn("__cell", assignUdf(col("__bv")))
    // the O(batch ∩ occupied-cells) flagged minority rides to the
    // driver and back out as ONE per-batch broadcast (micro-batches
    // are bounded by contract; a mostly-novel stream flags few rows)
    val flagged = vecs.filter(occUdf(col("__cell"))).collect()
    val byCell = new java.util.HashMap[Integer,
      (Array[Long], Array[Long], Array[Array[Double]])]()
    locally {
      val grouped = flagged.groupBy(_.getInt(3))
      grouped.foreach { case (cell, rows) =>
        byCell.put(cell, (rows.map(_.getLong(0)), rows.map(_.getLong(1)),
          rows.map(_.getSeq[Double](2).toArray)))
      }
    }
    val bcBatch = batch.sparkSession.sparkContext.broadcast(byCell)
    val thr = $(threshold)
    // corpus-side probe: for each index entry, emit the fp pairs of
    // same-cell batch members within the threshold
    val hitsUdf = udf { (cell: Int, v: Seq[Double]) =>
      val members = bcBatch.value.get(cell)
      if (members == null) Seq.empty[(Long, Long)]
      else {
        val (fps, fp2s, vs) = members
        val b = v.toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var j = 0
        while (j < vs.length) {
          if (graft.dedup.SemDeDup.cosineDup(vs(j), b, thr))
            out += ((fps(j), fp2s(j)))
          j += 1
        }
        out.toSeq
      }
    }
    // an all-novel batch (tier 1 clean) skips the index pass entirely
    val survivors =
      if (flagged.isEmpty) keyed
      else {
        val dropFps = cIdx
          .select(explode(hitsUdf(col("__cell"), col("__v"))).as("__h"))
          .select(col("__h._1").as("__fp"), col("__h._2").as("__fp2"))
          .distinct()
        keyed.join(dropFps, Seq("__fp", "__fp2"), "left_anti")
      }
    // within-batch exact-embedding dedup (nulls bypass — no evidence)
    dropExactRepeats(survivors, Some(col(getInputCol)), "__fp", "__fp2")
  }

  override def transformSchema(schema: StructType): StructType = {
    graft.core.SchemaChecks.requireCols(schema, "inputCol" -> getInputCol)
    graft.core.SchemaChecks.requireAbsent(schema, "__fp", "__fp2")
    schema
  }
  override def copy(extra: ParamMap): StreamingSemDeDup = {
    val c = defaultCopy[StreamingSemDeDup](extra)
    c.corpusIndex = corpusIndex // probe caches stay per-instance (rebuilt)
    c
  }
}
object StreamingSemDeDup
    extends graft.core.GraftReadable[StreamingSemDeDup]

/** Streaming ANN ENRICHMENT — the retrieval face of the streaming
  * family: tag each streamed document with its top-k nearest corpus
  * neighbors (ids + cosine scores, the batch
  * [[graft.sim.IVFNearestNeighborsModel]] `neighbors` contract) from a
  * broadcast IVF index, map-only per micro-batch, zero shuffle and
  * ZERO STATE (pure enrichment — no watermark needed, so it composes
  * anywhere in a streaming chain). This is the continuous version of
  * embedding-based retrieval labeling: route, cluster-tag, or
  * RAG-annotate an ingest stream against a curated corpus without
  * stopping it.
  *
  * The index is the [[StreamingSemDeDup]] shape (cell → corpus ids +
  * vectors, ~(dim·8 + 28) B/entry) under the IVF model's own flat
  * centroids — `setFromModel` shares ONE quantizer between the batch
  * ANN path and the stream, and `nProbe` trades recall for per-row
  * work exactly like the batch model (`nProbe == nLists` is exact;
  * the `image_ivf_serving` gate measured 160/160 planted neighbors
  * at nProbe = nLists/8 over this fixture family). Same scoring
  * arithmetic as the batch path — assignment on the unit sphere,
  * exact cosine on the RAW vectors — with one stated exception:
  * zero-norm endpoints (NaN cosine) are NEVER emitted as neighbors
  * (the batch TopKAggregator's total order ranks NaN last, the same
  * user-visible contract). Null embeddings enrich as null. Past
  * `maxIndexEntries`, shard the corpus (one index per shard, union
  * the tags) or run the batch IVF join per micro-batch via
  * foreachBatch — the fail-fast names both. */
class StreamingNearestNeighbors(override val uid: String)
    extends Transformer with HasInputCol with HasOutputCol
    with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("StreamingNearestNeighbors"))
  setDefault(outputCol -> "neighbors")

  final val k = new IntParam(this, "k", "neighbors per document",
    ParamValidators.gt(0))
  setDefault(k -> 10)
  def setK(v: Int): this.type = set(k, v)
  final val nProbe = new IntParam(this, "nProbe",
    "cells scanned per document (== nLists probes every cell — exact)",
    ParamValidators.gt(0))
  setDefault(nProbe -> 8)
  def setNProbe(v: Int): this.type = set(nProbe, v)
  final val maxIndexEntries = new IntParam(this, "maxIndexEntries",
    "fail-fast cap on corpus index entries (full vectors broadcast — " +
      "see the class scaladoc for the scale paths past it)",
    ParamValidators.gt(0))
  setDefault(maxIndexEntries -> (1 << 18))
  def setMaxIndexEntries(v: Int): this.type = set(maxIndexEntries, v)

  /** The IVF coarse centroids — a complex Param (persists), shared
    * with the batch model via [[setFromModel]]. */
  final val centroids = new Param[Array[Array[Double]]](this,
    "centroids", "IVF coarse centroids (from IVFNearestNeighbors)")
  def setCentroids(c: Array[Array[Double]]): this.type = set(centroids, c)
  def setFromModel(m: graft.sim.IVFNearestNeighborsModel): this.type =
    set(centroids, m.centroids)

  private var corpus: DataFrame = _
  /** Corpus (id, vector) frame the stream is enriched against.
    * Replacing the corpus destroys the cached index broadcast — don't
    * swap it while a streaming query that references this stage has a
    * micro-batch in flight (restart the query around the swap, the
    * [[StreamingMinHashDeduplicator.setCorpusIndex]] contract). */
  def setCorpus(df: DataFrame, idCol: String, vecCol: String): this.type = {
    corpus = df.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("__v"))
    release()
    this
  }

  // (centroids, cell -> corpus ids + vectors), broadcast once per corpus
  @transient private lazy val probe = new ProbeCache[Broadcast[(
    Array[Array[Double]], (Array[Array[Long]], Array[Array[Array[Double]]]))]]
  private[streaming] def cachedProbe: Option[Broadcast[_]] =
    probe.lastBroadcast
  /** Drop the cached index broadcast (executor + driver copies).
    * Called automatically when [[setCorpus]] replaces the corpus; call
    * it explicitly from long-lived drivers that discard the stage. */
  def release(): Unit = probe.release()

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    require(isSet(centroids),
      "setCentroids (or setFromModel) first — the stream must probe " +
        "the SAME cell partition the index was built under")
    require(corpus != null, "setCorpus first")
    val df = ds.toDF()
    val cs = $(centroids)
    val bc = probe((cs, $(maxIndexEntries))) {
      // DISTRIBUTED cell assignment: the batch IVF argmin expression
      // runs where the corpus lives and the driver collects already-
      // assigned (id, v, cell) rows — the first formulation argmin'd
      // every index vector against every centroid in a driver loop,
      // ~10⁹ single-threaded flops at the 2²⁰ ceiling × 8 cells ×
      // dim 63 (round-18 verdict, What's wrong #4)
      val assignUdf = udf { v: Seq[Double] =>
        graft.sim.IVF.nearest(cs, graft.sim.IVF.normalize(v.toArray))._1
      }
      val rows = ProbeCache.collectCapped(
        corpus.na.drop().withColumn("__cell", assignUdf(col("__v"))),
        $(maxIndexEntries),
        "shard the corpus (one index per shard, union the tags) or run " +
          "the batch IVFNearestNeighborsModel join per micro-batch via " +
          "foreachBatch instead of broadcasting")
      // group pre-assigned rows by cell: O(n) pointer work, no flops
      val cellIds = Array.fill(cs.length)(
        scala.collection.mutable.ArrayBuffer.empty[Long])
      val cellVs = Array.fill(cs.length)(
        scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
      rows.foreach { r =>
        val cell = r.getInt(2)
        cellIds(cell) += r.getLong(0)
        // RAW vector: scoring cosine matches the batch path
        cellVs(cell) += r.getSeq[Double](1).toArray
      }
      val index = (cellIds.map(_.toArray), cellVs.map(_.toArray))
      probe.broadcast(df.sparkSession.sparkContext, (cs, index))
    }
    val kk = $(k); val np = $(nProbe)
    val nnUdf = udf { q: Seq[Double] =>
      // null-safe inside the UDF (a when/otherwise around it is not
      // guaranteed lazy for UDF branches): null in -> null neighbors
      if (q == null) null
      else {
      val (ctr, (ids, vs)) = bc.value
      val qa = q.toArray
      val qn = graft.sim.IVF.normalize(qa)
      // rank cells by quantizer distance, probe the np closest
      val order = graft.sim.IVF.probeOrder(ctr, qn, np)
      // exact cosine over the probed cells, top-k by insertion (k is
      // small; avoids a heap allocation per row). The query self-norm
      // is invariant per row — hoisted out of the candidate loop
      // (review find: it was a third of the inner-loop FLOPs)
      var qna = 0.0
      var qi = 0
      while (qi < qa.length) { qna += qa(qi) * qa(qi); qi += 1 }
      val qNorm = math.sqrt(qna)
      val topS = new Array[Double](kk)
      val topI = new Array[Long](kk)
      var n = 0
      order.foreach { c =>
        val cis = ids(c); val cvs = vs(c)
        var j = 0
        while (j < cvs.length) {
          val b = cvs(j)
          val m = math.min(qa.length, b.length)
          var d = 0.0; var nb = 0.0
          var t = 0
          while (t < m) {
            d += qa(t) * b(t); nb += b(t) * b(t)
            t += 1
          }
          val cos = d / (qNorm * math.sqrt(nb))
          // a zero-norm endpoint yields NaN: NEVER a neighbor — an
          // un-displaceable NaN slot would freeze the top-k and break
          // the score ordering (review find; the batch TopKAggregator's
          // total order ranks NaN last, same user-visible contract)
          if (!cos.isNaN) {
            if (n < kk) {
              var p = n
              while (p > 0 && topS(p - 1) < cos) {
                topS(p) = topS(p - 1); topI(p) = topI(p - 1); p -= 1
              }
              topS(p) = cos; topI(p) = cis(j)
              n += 1
            } else if (cos > topS(kk - 1)) {
              var p = kk - 1
              while (p > 0 && topS(p - 1) < cos) {
                topS(p) = topS(p - 1); topI(p) = topI(p - 1); p -= 1
              }
              topS(p) = cos; topI(p) = cis(j)
            }
          }
          j += 1
        }
      }
      (0 until n).map(i => graft.sim.Scored(topS(i), topI(i)))
      }
    }
    df.withColumn(getOutputCol,
      nnUdf(col(getInputCol).cast(ArrayType(DoubleType))))
  }
  override def transformSchema(schema: StructType): StructType = {
    graft.core.SchemaChecks.requireCols(schema, "inputCol" -> getInputCol)
    graft.core.SchemaChecks.requireAbsent(schema, getOutputCol)
    StructType(schema :+ StructField(getOutputCol,
      ArrayType(StructType(Seq(StructField("score", DoubleType),
        StructField("id", LongType)))), nullable = true))
  }
  override def copy(extra: ParamMap): StreamingNearestNeighbors = {
    val c = defaultCopy[StreamingNearestNeighbors](extra)
    c.corpus = corpus
    c
  }
}
object StreamingNearestNeighbors
    extends graft.core.GraftReadable[StreamingNearestNeighbors]

