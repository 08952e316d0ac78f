package graft.streaming

import graft.TestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSuite extends TestBase {
  import spark.implicits._

  test("EventTimeWindowAggregator tumbles on batch frames") {
    val df = Seq(
      ("2024-01-01 00:10:00", 5.0), ("2024-01-01 00:40:00", 3.0),
      ("2024-01-01 01:10:00", 2.0)
    ).toDF("ts_s", "value").withColumn("ts", to_timestamp(col("ts_s")))
    val out = new EventTimeWindowAggregator().setTimeCol("ts")
      .setWindowDuration("1 hour").setValueCol("value")
      .transform(df).orderBy("window_start").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n") == 2 && out(0).getAs[Double]("sum_value") == 8.0)
    assert(out(1).getAs[Long]("n") == 1 && out(1).getAs[Double]("sum_value") == 2.0)
  }

  test("EventTimeWindowAggregator with watermark on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = new EventTimeWindowAggregator().setTimeCol("ts")
      .setWindowDuration("10 minutes").setWatermark("5 minutes")
      .setValueCol("value")
      .transform(mem.toDF().toDF("ts", "value"))
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("append").start()
    try {
      mem.addData((java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1.0),
        (java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), 2.0))
      q.processAllAvailable()
      // advance watermark far past the first window so it closes
      mem.addData((java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 9.0))
      q.processAllAvailable()
      val rows = spark.table("winagg").collect()
      assert(rows.exists(r => r.getAs[Long]("n") == 2 &&
        r.getAs[Double]("sum_value") == 3.0))
    } finally q.stop()
  }

  test("StreamingDeduplicator drops duplicate docs within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val dedup = new StreamingDeduplicator().setInputCol("text")
      .setTimeCol("ts").setWatermarkDelay("10 minutes")
      .transform(mem.toDF().toDF("ts", "text"))
    val q = dedup.writeStream.format("memory").queryName("streamdedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "alpha doc"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "  Alpha   DOC "),
        (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "beta doc"))
      q.processAllAvailable()
      mem.addData( // same canonical text again, still inside the watermark
        (java.sql.Timestamp.valueOf("2024-01-01 00:04:00"), "alpha doc"))
      q.processAllAvailable()
      val texts = spark.table("streamdedup").collect().map(_.getString(1))
      assert(texts.length == 2) // one alpha (canonically equal), one beta
      assert(texts.exists(_.contains("beta")))
    } finally q.stop()
  }

  test("StreamingDeduplicator filters the static corpus index first") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("known corpus doc", "another curated one")
      .toDF("text")
    val idx = StreamingDeduplicator.fingerprintIndex(corpus, "text")
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val dedup = new StreamingDeduplicator().setInputCol("text")
      .setTimeCol("ts").setWatermarkDelay("10 minutes")
      .setCorpusIndex(idx)
      .transform(mem.toDF().toDF("ts", "text"))
    val q = dedup.writeStream.format("memory").queryName("streamincdedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "KNOWN corpus  doc"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "fresh doc"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "fresh  DOC"))
      q.processAllAvailable()
      val texts = spark.table("streamincdedup").collect().map(_.getString(1))
      // corpus copy filtered by the index; in-stream dup collapsed
      assert(texts.length == 1 && texts.head.toLowerCase.contains("fresh"))
    } finally q.stop()
  }

  test("batch-persisted incremental index drives the streaming dedup") {
    // the 128-bit (__fp, __fp2) index written by the BATCH incremental
    // path must be directly usable as the streaming static side — one
    // persisted index, both engines
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("known corpus doc", "another curated one").toDF("text")
    val idx = graft.dedup.IncrementalDeduplicator.fingerprintIndex(corpus, "text")
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val dedup = new StreamingDeduplicator().setInputCol("text")
      .setTimeCol("ts").setWatermarkDelay("10 minutes")
      .setCorpusIndex(idx)
      .transform(mem.toDF().toDF("ts", "text"))
    val q = dedup.writeStream.format("memory").queryName("streambatchidx")
      .outputMode("append").start()
    try {
      mem.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "Another CURATED one"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "novel doc"))
      q.processAllAvailable()
      val texts = spark.table("streambatchidx").collect().map(_.getString(1))
      assert(texts.toSeq == Seq("novel doc"))
    } finally q.stop()
  }

  test("StreamingDeduplicator is a plain fingerprint dedup on batch") {
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "x y"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "X  y "),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "z")
    ).toDF("ts", "text")
    val out = new StreamingDeduplicator().setInputCol("text").transform(df)
    assert(out.count() == 2)
    assert(out.columns.toSeq == Seq("ts", "text"))
  }

  test("Sessionize assigns gap-based session ids on batch") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 02:00:00"), (2L, "2024-01-01 00:00:00")
    ).toDF("user_id", "ts_s").withColumn("ts", to_timestamp(col("ts_s")))
    val out = new Sessionize().setKeyCol("user_id").setTimeCol("ts")
      .setGapSeconds(1800).transform(df)
      .select("user_id", "ts_s", "session_id").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getInt(2)).toMap
    assert(out((1L, "2024-01-01 00:00:00")) == 0)
    assert(out((1L, "2024-01-01 00:10:00")) == 0)
    assert(out((1L, "2024-01-01 02:00:00")) == 1)
    assert(out((2L, "2024-01-01 00:00:00")) == 0)
  }

  test("SessionizeStream closes sessions across micro-batches") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = SessionizeStream(mem.toDS(), gapSeconds = 60, useTimeout = false)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1000L), (1L, 1030L))
      q.processAllAvailable()
      mem.addData((1L, 5000L)) // gap > 60s -> closes first session
      q.processAllAvailable()
      val rows = spark.table("sessions").as[SessionizeStream.ClosedSession].collect()
      assert(rows.length == 1)
      assert(rows(0) == SessionizeStream.ClosedSession(1L, 1000L, 1030L, 2))
    } finally q.stop()
  }

  test("StreamingFingerprintDeduplicator: index near-dup probe + " +
    "in-stream exact + null passthrough (batch parity)") {
    // planted audio fixture: groups of 4 ids share one contour (exact
    // re-encodes -> bit-identical fps); cross-group hamming >= 12
    val wav = (id: Long) => graft.gates.MediaFixtures.testFpWavBytes(id)
    val corpus = Seq(0L, 1L, 2L, 3L).map(id => (id, wav(id)))
      .toDF("doc_id", "payload")
    val idx = StreamingFingerprintDeduplicator.fingerprintIndex(
      corpus, "payload", "audio")
    assert(idx.count() == 1) // four bit-identical re-encodes, one fp
    val batch = Seq(
      (10L, wav(1L)),                       // in index (exact)
      (11L, wav(4L)), (12L, wav(5L)),       // fresh group; same fp
      (13L, null.asInstanceOf[Array[Byte]]),// no evidence
      (14L, Array[Byte](1, 2, 3)))          // undecodable -> null fp
      .toDF("doc_id", "payload")
    val out = new StreamingFingerprintDeduplicator().setModality("audio")
      .setInputCol("payload").setCorpusIndex(idx)
      .transform(batch).select("doc_id").as[Long].collect().sorted
    // 10 dropped by the probe; 11/12 collapse to one; nulls both kept
    assert(out.length == 3 && out.contains(13L) && out.contains(14L))
    assert(out.contains(11L) || out.contains(12L))
  }

  test("StreamingFingerprintDeduplicator dedups a stream against the " +
    "persisted index and within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val wav = (id: Long) => graft.gates.MediaFixtures.testFpWavBytes(id)
    val idx = StreamingFingerprintDeduplicator.fingerprintIndex(
      Seq((0L, wav(0L))).toDF("doc_id", "payload"), "payload", "audio")
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val withPayload = mem.toDF().toDF("ts", "doc_id")
      .withColumn("payload", udf(wav).apply(col("doc_id")))
    val dedup = new StreamingFingerprintDeduplicator().setModality("audio")
      .setInputCol("payload").setTimeCol("ts")
      .setWatermarkDelay("10 minutes").setCorpusIndex(idx)
      .transform(withPayload)
    val q = dedup.writeStream.format("memory").queryName("streamfpdedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2L), // = idx fp
        (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 4L)) // fresh
      q.processAllAvailable()
      mem.addData( // 4's exact re-encode, inside the watermark
        (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 5L))
      q.processAllAvailable()
      val ids = spark.table("streamfpdedup").collect()
        .map(_.getAs[Long]("doc_id")).sorted
      assert(ids.toSeq == Seq(4L))
    } finally q.stop()
  }

  test("StreamingMinHashDeduplicator: near-dup probe vs index + in-stream " +
    "exact + null passthrough (batch parity)") {
    // corpus doc = 20 words; near-dup = same + one appended word
    // (3-shingles: 18 shared of 19 -> exact J = 18/19 ~ 0.947, estimate
    // well over the 0.8 cutoff); fresh doc shares nothing
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val idx = StreamingMinHashDeduplicator.signatureIndex(
      corpus, "doc_id", "text", 3, 128)
    val batch = Seq(
      (10L, base + " extra"),                  // near-dup of corpus
      (11L, (1 to 20).map(i => s"z$i").mkString(" ")), // fresh
      (12L, (1 to 20).map(i => s"z$i").mkString(" ")), // exact repeat
      (13L, null.asInstanceOf[String]),        // no evidence
      (14L, null.asInstanceOf[String]))        // BOTH nulls must pass:
      // Spark's xxhash64(NULL) is the seed, never null, so a
      // fingerprint-nullness split would collapse them (review find)
      .toDF("doc_id", "text")
    val out = new StreamingMinHashDeduplicator().setInputCol("text")
      .setThreshold(0.8).setCorpusIndex(idx)
      .transform(batch).select("doc_id").as[Long].collect().sorted
    assert(out.length == 3 && out.contains(13L) && out.contains(14L))
    assert(out.contains(11L) || out.contains(12L))
    // reserved internal columns clash at plan construction
    intercept[IllegalArgumentException] {
      new StreamingMinHashDeduplicator().setInputCol("text")
        .transform(batch.withColumn("__sig", lit(1)))
    }
  }

  test("StreamingMinHashDeduplicator.transformMicroBatch decides " +
    "identically to the broadcast DSL path (two-tier large-index mode)") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val base2 = (1 to 20).map(i => s"y$i").mkString(" ")
    val corpus = Seq((1L, base), (2L, base2), (3L, "too short"))
      .toDF("doc_id", "text")
    val idx = StreamingMinHashDeduplicator.signatureIndex(
      corpus, "doc_id", "text", 3, 128)
    val batch = Seq(
      (10L, base + " extra"),                  // near-dup of corpus 1
      (11L, base2.toUpperCase + "  "),         // canonical-equal to corpus 2
      (12L, (1 to 20).map(i => s"z$i").mkString(" ")), // fresh
      (13L, (1 to 20).map(i => s"z$i").mkString(" ")), // exact repeat of 12
      (14L, "tiny doc"),                       // empty-shingle: matches
      // corpus 3's sentinel signature (agreement 1) -> drop
      (15L, null.asInstanceOf[String]),        // no evidence
      (16L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val stage = new StreamingMinHashDeduplicator().setInputCol("text")
      .setThreshold(0.8)
    val viaDsl = ids(stage.setCorpusIndex(idx).transform(batch))
    val viaMb = ids(stage.setCorpusIndex(idx).transformMicroBatch(batch))
    // 10/11/14 drop via the probe; 12/13 collapse to one; nulls pass.
    // which of an exact-repeat pair survives is arbitrary on both
    // paths — compare decision classes, not raw ids
    def canon(s: Set[Long]): Set[Long] =
      s.map(i => if (i == 13L) 12L else i)
    assert(canon(viaMb) == canon(viaDsl),
      s"micro-batch $viaMb vs DSL $viaDsl")
    assert(canon(viaMb) == Set(12L, 15L, 16L))
  }

  test("StreamingMinHashDeduplicator.transformMicroBatch rebuilds the " +
    "probe when the band shape changes between calls (review find)") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val idx = StreamingMinHashDeduplicator.signatureIndex(
      corpus, "doc_id", "text", 3, 128)
    val batch = Seq((10L, base + " extra")).toDF("doc_id", "text")
    val stage = new StreamingMinHashDeduplicator().setInputCol("text")
      .setThreshold(0.8).setCorpusIndex(idx)
    assert(stage.setBands(16).transformMicroBatch(batch).count() == 0)
    // same stage, different band count: stale 16-band corpus keys would
    // find zero candidates and wrongly pass the near-dup through
    assert(stage.setBands(32).transformMicroBatch(batch).count() == 0)
  }

  test("StreamingMinHashDeduplicator.transformMicroBatch handles an " +
    "index the broadcast ceiling refuses") {
    val docs = (0 until 8)
      .map(i => (i.toLong, (1 to 20).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val idx = StreamingMinHashDeduplicator.signatureIndex(
      docs, "doc_id", "text", 3, 128)
    val stage = new StreamingMinHashDeduplicator().setInputCol("text")
      .setMaxIndexEntries(2).setCorpusIndex(idx)
    val e = intercept[IllegalArgumentException] {
      stage.transform(docs)
    }
    assert(e.getMessage.contains("transformMicroBatch"))
    // the two-tier path shoulders the same index: every doc is its own
    // corpus twin -> all drop
    assert(stage.transformMicroBatch(docs).count() == 0)
  }

  test("StreamingMinHashDeduplicator empty-shingle docs match the batch " +
    "family's semantics (empty matches empty)") {
    val corpus = Seq((1L, "too short")).toDF("doc_id", "text") // < 3 tokens
    val idx = StreamingMinHashDeduplicator.signatureIndex(
      corpus, "doc_id", "text", 3, 128)
    val batch = Seq((10L, "also tiny"), (11L, (1 to 9).map(i => s"w$i")
      .mkString(" "))).toDF("doc_id", "text")
    val out = new StreamingMinHashDeduplicator().setInputCol("text")
      .setCorpusIndex(idx).transform(batch)
      .select("doc_id").as[Long].collect().toSeq
    // the empty-shingle doc matches the corpus's empty-shingle doc
    // (agreement 1 on the sentinel signature — the batch rule); the
    // real doc survives
    assert(out == Seq(11L))
  }

  test("StreamingMinHashDeduplicator dedups a stream against the " +
    "persisted index and exactly within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val idx = StreamingMinHashDeduplicator.signatureIndex(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", 3, 128)
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val dedup = new StreamingMinHashDeduplicator().setInputCol("text")
      .setTimeCol("ts").setWatermarkDelay("10 minutes")
      .setThreshold(0.8).setCorpusIndex(idx)
      .transform(mem.toDF().toDF("ts", "text"))
    val q = dedup.writeStream.format("memory").queryName("streammhdedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"),
          base + " extra"),                       // near-dup of corpus
        (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"),
          (1 to 20).map(i => s"z$i").mkString(" "))) // fresh
      q.processAllAvailable()
      mem.addData( // canonically equal repeat, inside the watermark
        (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"),
          "  " + (1 to 20).map(i => s"z$i").mkString("  ") + " "))
      q.processAllAvailable()
      val texts = spark.table("streammhdedup").collect().map(_.getString(1))
      assert(texts.length == 1 && texts.head.startsWith("z1"),
        s"got ${texts.toSeq}")
    } finally q.stop()
  }

  test("StreamingSemDeDup: corpus-cell probe + in-stream exact-embedding " +
    "dedup + null passthrough (batch parity)") {
    // the IncrementalSemDeDupSuite geometry: two separated directions
    // in the corpus; batch carries a near-dup of each, a novel
    // direction, its exact repeat, and nulls
    val corpus = Seq(
      (0L, Array(1.0, 0.02, 0.0, 0.0)),
      (1L, Array(0.0, 0.02, 1.0, 0.0))
    ).toDF("doc_id", "embedding")
    val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).setThreshold(0.99).fit(corpus)
    val batch = Seq(
      (10L, Array(1.0, 0.05, 0.0, 0.0)),  // near-dup of corpus 0 -> drop
      (11L, Array(0.0, 0.05, 1.0, 0.0)),  // near-dup of corpus 1 -> drop
      (12L, Array(0.0, 0.0, 0.0, 1.0)),   // novel -> keep
      (13L, Array(0.0, 0.0, 0.0, 1.0)),   // exact repeat of 12 -> collapse
      (14L, null.asInstanceOf[Array[Double]]), // no evidence -> keep
      (15L, null.asInstanceOf[Array[Double]])  // both nulls must pass
    ).toDF("doc_id", "embedding")
    // single cell: the probe filter sits above the spreading
    // repartition; a multi-cell quantizer probes in place — and the
    // payload shuffle cannot change decisions. Read from parquet, as
    // the gates do: the optimizer folds a local batch away entirely.
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.{Filter,
      RepartitionOperation}
    val dir = java.nio.file.Files.createTempDirectory("semdd_spread")
      .resolve("batch").toString
    batch.write.parquet(dir)
    def run(model: graft.dedup.IncrementalSemDeDupModel)
        : (Array[Long], Boolean) = {
      val dedup = new StreamingSemDeDup().setInputCol("embedding")
        .setFromModel(model).setCorpusIndex(model.indexCorpus(corpus))
        .transform(spark.read.parquet(dir))
      val plan = dedup.queryExecution.optimizedPlan
      val probes = plan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[ScalaUDF]) => f
      }
      assert(probes.nonEmpty, s"no probe filter in the plan:\n$plan")
      (dedup.select("doc_id").as[Long].collect().sorted,
        probes.forall(_.child.exists(_.isInstanceOf[RepartitionOperation])))
    }
    val (out, spread) = run(m)
    assert(out.length == 3 && out.contains(14L) && out.contains(15L))
    assert(out.contains(12L) || out.contains(13L))
    val multi = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(2).setThreshold(0.99).fit(corpus)
    assert(graft.dedup.SemDeDup.cells(multi.getOrDefault(multi.quantizer)) == 2)
    val (outMulti, spreadMulti) = run(multi)
    assert(spread && !spreadMulti,
      "only the single-cell probe should sit above a repartition")
    // 12/13 are exact repeats: which copy survives is arbitrary
    def decisions(ids: Array[Long]) =
      (ids.filterNot(Set(12L, 13L)).toSeq, ids.count(Set(12L, 13L)))
    assert(decisions(outMulti) == decisions(out))
    // reserved internal columns clash at plan construction
    intercept[IllegalArgumentException] {
      new StreamingSemDeDup().setInputCol("embedding").setFromModel(m)
        .transform(batch.withColumn("__fp", lit(1)))
    }
    // missing quantizer is a named error, not an NPE mid-probe
    val e = intercept[IllegalArgumentException] {
      new StreamingSemDeDup().setInputCol("embedding").transform(batch)
    }
    assert(e.getMessage.contains("setQuantizer"))
  }

  test("StreamingSemDeDup dedups a stream against the persisted corpus " +
    "index and exactly within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((0L, Array(1.0, 0.02, 0.0))).toDF("doc_id", "embedding")
    val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).setThreshold(0.99).fit(corpus)
    val idx = m.indexCorpus(corpus)
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val vecOf = (id: Long) =>
      if (id == 1L) Array(1.0, 0.03, 0.0)      // near-dup of corpus
      else Array(0.0, 0.01 * (id / 10), 1.0)   // novel direction
    val withVec = mem.toDF().toDF("ts", "doc_id")
      .withColumn("embedding", udf(vecOf).apply(col("doc_id")))
    val dedup = new StreamingSemDeDup().setInputCol("embedding")
      .setTimeCol("ts").setWatermarkDelay("10 minutes")
      .setFromModel(m).setCorpusIndex(idx)
      .transform(withVec)
    val q = dedup.writeStream.format("memory").queryName("streamsemdedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1L), // corpus dup
        (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 20L)) // novel
      q.processAllAvailable()
      mem.addData( // bit-identical repeat of 20's vector, in-watermark
        (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 20L))
      q.processAllAvailable()
      val ids = spark.table("streamsemdedup").collect()
        .map(_.getAs[Long]("doc_id")).sorted
      assert(ids.toSeq == Seq(20L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("StreamingSemDeDup maxIndexEntries fails fast and names the " +
    "scale paths") {
    val corpus = (0 until 8)
      .map(i => (i.toLong, Array(i.toDouble, 1.0)))
      .toDF("doc_id", "embedding")
    val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).fit(corpus)
    val e = intercept[IllegalArgumentException] {
      new StreamingSemDeDup().setInputCol("embedding").setFromModel(m)
        .setMaxIndexEntries(2).setCorpusIndex(m.indexCorpus(corpus))
        .transform(corpus)
    }
    assert(e.getMessage.contains("maxIndexEntries") &&
      e.getMessage.contains("IncrementalSemDeDupModel.transform"))
  }

  test("StreamingSemDeDup honors the shared cell partition: a cross-cell " +
    "near pair is missed (the incremental recall contract)") {
    // the IncrementalSemDeDupSuite boundary fixture: blobs pin k=2
    // centroids at e1/e2; corpus (0.6,0.4) sits in the e1 cell, the
    // stream doc (0.4,0.6) in the e2 cell, cosine ~0.923 >= 0.9
    val cps = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.98, 0.02)),
      (2L, Array(0.0, 1.0)), (3L, Array(0.02, 0.98)),
      (4L, Array(0.6, 0.4))
    ).toDF("doc_id", "embedding")
    val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(2).setThreshold(0.9).fit(cps)
    val out = new StreamingSemDeDup().setInputCol("embedding")
      .setFromModel(m).setCorpusIndex(m.indexCorpus(cps))
      .transform(Seq((10L, Array(0.4, 0.6))).toDF("doc_id", "embedding"))
    assert(out.count() == 1, "cross-cell near pair must be missed")
  }

  test("StreamingNearestNeighbors: broadcast-IVF top-k enrichment, " +
    "null passthrough, exactness at nProbe == nLists (batch parity)") {
    // two planted directions; corpus members tilt slightly so top-k
    // order is unambiguous
    val corpus = Seq(
      (0L, Array(1.0, 0.0, 0.0)), (1L, Array(1.0, 0.1, 0.0)),
      (2L, Array(0.0, 0.0, 1.0)), (3L, Array(0.0, 0.1, 1.0))
    ).toDF("doc_id", "embedding")
    val ivf = new graft.sim.IVFNearestNeighbors()
      .setInputCol("embedding").setIdCol("doc_id").setNLists(2)
      .fit(corpus)
    val stage = new StreamingNearestNeighbors().setInputCol("embedding")
      .setK(2).setNProbe(2) // == nLists: exact
      .setFromModel(ivf).setCorpus(corpus, "doc_id", "embedding")
    val batch = Seq(
      (10L, Array(1.0, 0.01, 0.0)),   // x-direction query
      (11L, Array(0.0, 0.01, 1.0)),   // z-direction query
      (12L, null.asInstanceOf[Array[Double]])
    ).toDF("doc_id", "embedding")
    val out = stage.transform(batch)
      .select(col("doc_id"), col("neighbors.id").as("ids"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1).toSet)).toMap
    assert(out(10L) == Set(0L, 1L) && out(11L) == Set(2L, 3L))
    assert(out(12L) == null)
    // exactness: the first neighbor of a near-axis query is the pure
    // axis vector (cosine ordering, not insertion order)
    val first = stage.transform(batch.filter(col("doc_id") === 10L))
      .select(col("neighbors")(0)("id")).head().getLong(0)
    assert(first == 0L)
    // fail-fasts carry names
    val e = intercept[IllegalArgumentException] {
      new StreamingNearestNeighbors().setInputCol("embedding")
        .setCorpus(corpus, "doc_id", "embedding").transform(batch)
    }
    assert(e.getMessage.contains("setCentroids"))
    val e2 = intercept[IllegalArgumentException] {
      stage.setMaxIndexEntries(2).transform(batch)
    }
    assert(e2.getMessage.contains("maxIndexEntries"))
    stage.setMaxIndexEntries(1 << 18)
    // save/load round-trips the complex centroids param
    val p = java.nio.file.Files
      .createTempDirectory("graft_snn").toString + "/m"
    stage.write.overwrite().save(p)
    val back = StreamingNearestNeighbors.load(p)
      .setCorpus(corpus, "doc_id", "embedding")
    val b = back.transform(batch.filter(col("doc_id") === 10L))
      .select(col("neighbors.id")).head().getSeq[Long](0).toSet
    assert(b == Set(0L, 1L))
  }

  test("StreamingNearestNeighbors: zero-norm corpus vectors are never " +
    "neighbors, and copy() keeps the attached corpus (review finds)") {
    val corpus = Seq(
      (0L, Array(0.0, 0.0)), // zero-norm: NaN cosine to everything
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1))
    ).toDF("doc_id", "embedding")
    val ivf = new graft.sim.IVFNearestNeighbors()
      .setInputCol("embedding").setIdCol("doc_id").setNLists(1)
      .fit(corpus)
    val stage = new StreamingNearestNeighbors().setInputCol("embedding")
      .setK(3).setNProbe(1).setFromModel(ivf)
      .setCorpus(corpus, "doc_id", "embedding")
    val batch = Seq((10L, Array(1.0, 0.01))).toDF("doc_id", "embedding")
    val ns = stage.transform(batch)
      .select(col("neighbors.id")).head().getSeq[Long](0)
    // id 0 (NaN) excluded even though k=3 has room; order by cosine
    assert(ns == Seq(1L, 2L), s"got $ns")
    // copy() must keep the attached corpus (Pipeline/ParamMap paths)
    val copied = stage.copy(org.apache.spark.ml.param.ParamMap.empty)
    val ns2 = copied.transform(batch)
      .select(col("neighbors.id")).head().getSeq[Long](0)
    assert(ns2 == Seq(1L, 2L))
  }

  test("streaming dedup copies keep their attached corpus index " +
    "(review find)") {
    val corpus = Seq("known corpus doc").toDF("text")
    val idx = StreamingDeduplicator.fingerprintIndex(corpus, "text")
    val stage = new StreamingDeduplicator().setInputCol("text")
      .setCorpusIndex(idx)
    val copied = stage.copy(org.apache.spark.ml.param.ParamMap.empty)
    val batch = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "KNOWN corpus doc"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "fresh doc")
    ).toDF("ts", "text")
    val out = copied.transform(batch).select("text").as[String].collect()
    assert(out.toSeq == Seq("fresh doc"))
  }

  test("WatermarkUtil: a same-column upstream watermark is reused; a " +
    "different-column one is NOT treated as ours") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "other_ts", "text")
    val marked = df.withWatermark("ts", "5 minutes")
    assert(WatermarkUtil.hasWatermark(marked, "ts"))
    assert(!WatermarkUtil.hasWatermark(marked, "other_ts"))
    assert(!WatermarkUtil.hasWatermark(df, "ts"))
  }

  test("WatermarkUtil warns — not silently — when an upstream watermark " +
    "overrides the stage's configured delay (round-18 advice)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val marked = mem.toDF().toDF("ts", "text").withWatermark("ts", "5 minutes")
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val logger = ctx.getLogger("graft.streaming.WatermarkUtil")
    val app = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "wm-capture", null, null, false,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        captured.synchronized {
          captured += e.getMessage.getFormattedMessage
        }
    }
    app.start()
    val prevLevel = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(org.apache.logging.log4j.Level.WARN)
    try {
      // same delay (equivalent spelling): reused, no warning
      WatermarkUtil.ensure(marked, "ts", "300 seconds")
      assert(captured.isEmpty, s"unexpected warning: $captured")
      // different delay: still reused (the engine forbids redefining),
      // but the substitution is LOGGED
      WatermarkUtil.ensure(marked, "ts", "2 hours")
      assert(captured.exists(m => m.contains("IGNORED") && m.contains("ts")),
        s"expected an override warning, got: $captured")
    } finally {
      logger.removeAppender(app)
      logger.setLevel(prevLevel)
      app.stop()
    }
  }

  test("StreamingNearestNeighbors enriches a live stream map-only " +
    "(no state, no watermark needed)") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))
    ).toDF("doc_id", "embedding")
    val ivf = new graft.sim.IVFNearestNeighbors()
      .setInputCol("embedding").setIdCol("doc_id").setNLists(1)
      .fit(corpus)
    val mem = MemoryStream[(Long, Double)]
    val withVec = mem.toDF().toDF("doc_id", "x")
      .withColumn("embedding", array(col("x"), lit(1.0) - col("x")))
    val tagged = new StreamingNearestNeighbors().setInputCol("embedding")
      .setK(1).setNProbe(1).setFromModel(ivf)
      .setCorpus(corpus, "doc_id", "embedding")
      .transform(withVec)
    val q = tagged.writeStream.format("memory").queryName("snnstream")
      .outputMode("append").start()
    try {
      mem.addData((10L, 1.0), (11L, 0.0))
      q.processAllAvailable()
      val out = spark.table("snnstream")
        .select(col("doc_id"), col("neighbors")(0)("id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(10L -> 0L, 11L -> 1L))
    } finally q.stop()
  }

  test("streaming curation chain: two watermarked dedup stages compose " +
    "in one query (exact text then semantic)") {
    // the composability claim behind the streaming dedup matrix: Spark
    // 3.5+ multiple-stateful support lets the exact-text state and the
    // semantic face's exact-embedding state chain in ONE append query
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((0L, Array(1.0, 0.02, 0.0))).toDF("doc_id", "embedding")
    val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).setThreshold(0.99).fit(corpus)
    val idx = m.indexCorpus(corpus)
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val vecOf = (id: Long) =>
      if (id == 1L) Array(1.0, 0.03, 0.0)    // semantic dup of corpus
      else Array(0.0, 0.01 * id, 1.0)        // novel
    val withVec = mem.toDF().toDF("ts", "doc_id", "text")
      .withColumn("embedding", udf(vecOf).apply(col("doc_id")))
    val chained = new StreamingSemDeDup().setInputCol("embedding")
      .setTimeCol("ts").setWatermarkDelay("10 minutes")
      .setFromModel(m).setCorpusIndex(idx)
      .transform(
        new StreamingDeduplicator().setInputCol("text").setTimeCol("ts")
          .setWatermarkDelay("10 minutes").transform(withVec))
    val q = chained.writeStream.format("memory").queryName("curationchain")
      .outputMode("append").start()
    try {
      mem.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1L, "aa"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 20L, "bb"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 30L, "  BB "))
      q.processAllAvailable()
      val ids = spark.table("curationchain").collect()
        .map(_.getAs[Long]("doc_id")).sorted
      // 1 drops at the semantic probe; 30 collapses onto 20's canonical
      // text at the exact stage; one of {20, 30} survives both
      assert(ids.length == 1 && (ids(0) == 20L || ids(0) == 30L),
        s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("StreamingFingerprintDeduplicator maxIndexEntries fails fast") {
    val wav = (id: Long) => graft.gates.MediaFixtures.testFpWavBytes(id)
    // ids 0,4,8,12: four distinct groups -> four distinct fps
    val corpus = Seq(0L, 4L, 8L, 12L).map(id => (id, wav(id)))
      .toDF("doc_id", "payload")
    val idx = StreamingFingerprintDeduplicator.fingerprintIndex(
      corpus, "payload", "audio")
    val e = intercept[IllegalArgumentException] {
      new StreamingFingerprintDeduplicator().setModality("audio")
        .setInputCol("payload").setMaxIndexEntries(2).setCorpusIndex(idx)
        .transform(corpus)
    }
    assert(e.getMessage.contains("maxIndexEntries"))
  }

  test("StreamingNearestNeighbors builds the index broadcast ONCE per " +
    "corpus reference and destroys it on setCorpus (round-18 verdict)") {
    val corpus = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))
    ).toDF("doc_id", "embedding")
    val ivf = new graft.sim.IVFNearestNeighbors()
      .setInputCol("embedding").setIdCol("doc_id").setNLists(1).fit(corpus)
    val batch = Seq((10L, Array(1.0, 0.1))).toDF("doc_id", "embedding")
    val stage = new StreamingNearestNeighbors().setInputCol("embedding")
      .setK(1).setNProbe(1).setFromModel(ivf)
      .setCorpus(corpus, "doc_id", "embedding")
    assertProbeCached(() => stage.cachedProbe,
      () => assert(stage.transform(batch)
        .select(col("neighbors")(0)("id")).as[Long].collect().toSeq ==
        Seq(0L)),
      () => stage.setCorpus(corpus, "doc_id", "embedding"),
      () => stage.release())
  }

  /** The probe-cache contract: the first transform builds the probe
    * broadcast, a repeated call reuses it (no re-collect, no
    * re-broadcast), replacing the corpus destroys it, and `release()`
    * destroys the rebuilt one. */
  private def assertProbeCached(
      cached: () => Option[org.apache.spark.broadcast.Broadcast[_]],
      run: () => Unit, replace: () => Unit, release: () => Unit): Unit = {
    assert(cached().isEmpty)
    run()
    val b1 = cached().get
    run()
    assert(cached().get.id == b1.id,
      "repeated transform must reuse the cached broadcast")
    replace()
    assert(cached().isEmpty)
    intercept[org.apache.spark.SparkException] { b1.value }
    run() // rebuilt, same decisions
    val b2 = cached().get
    release()
    assert(cached().isEmpty)
    intercept[org.apache.spark.SparkException] { b2.value }
  }

  test("StreamingMinHashDeduplicator and StreamingFingerprintDeduplicator " +
    "broadcast the corpus probe ONCE per index and destroy it on " +
    "setCorpusIndex and release") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val mhIdx = StreamingMinHashDeduplicator.signatureIndex(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", 3, 128)
    val texts = Seq((10L, base + " extra")).toDF("doc_id", "text")
    val mh = new StreamingMinHashDeduplicator().setInputCol("text")
      .setCorpusIndex(mhIdx)
    assertProbeCached(() => mh.cachedProbe,
      () => assert(mh.transform(texts).count() == 0),
      () => mh.setCorpusIndex(mhIdx), () => mh.release())
    // ids 0-3 are bit-identical audio re-encodes: 1 hits 0's fingerprint
    val wav = (id: Long) => graft.gates.MediaFixtures.testFpWavBytes(id)
    val fpIdx = StreamingFingerprintDeduplicator.fingerprintIndex(
      Seq((0L, wav(0L))).toDF("doc_id", "payload"), "payload", "audio")
    val media = Seq((10L, wav(1L))).toDF("doc_id", "payload")
    val fp = new StreamingFingerprintDeduplicator().setModality("audio")
      .setInputCol("payload").setCorpusIndex(fpIdx)
    assertProbeCached(() => fp.cachedProbe,
      () => assert(fp.transform(media).count() == 0),
      () => fp.setCorpusIndex(fpIdx), () => fp.release())
  }

  test("StreamingSemDeDup builds the DSL probe broadcasts ONCE per index " +
    "reference and destroys them on setCorpusIndex") {
    val corpus = Seq((0L, Array(1.0, 0.02, 0.0))).toDF("doc_id", "embedding")
    val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).setThreshold(0.99).fit(corpus)
    val idx = m.indexCorpus(corpus)
    val batch = Seq((10L, Array(1.0, 0.03, 0.0))).toDF("doc_id", "embedding")
    val stage = new StreamingSemDeDup().setInputCol("embedding")
      .setFromModel(m).setCorpusIndex(idx)
    assertProbeCached(() => stage.cachedProbe,
      () => assert(stage.transform(batch).count() == 0),
      () => stage.setCorpusIndex(idx), () => stage.release())
  }

  test("StreamingSemDeDup.transformMicroBatch decides identically to the " +
    "broadcast DSL path (two-tier large-index mode)") {
    val corpus = Seq(
      (0L, Array(1.0, 0.02, 0.0, 0.0)),
      (1L, Array(0.0, 0.02, 1.0, 0.0))
    ).toDF("doc_id", "embedding")
    // TWO cells so the occupied-cell tier actually partitions
    val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(2).setThreshold(0.99).fit(corpus)
    val idx = m.indexCorpus(corpus)
    val batch = Seq(
      (10L, Array(1.0, 0.05, 0.0, 0.0)),  // near-dup of corpus 0 -> drop
      (11L, Array(0.0, 0.05, 1.0, 0.0)),  // near-dup of corpus 1 -> drop
      (12L, Array(0.0, 0.0, 0.0, 1.0)),   // novel -> keep
      (13L, Array(0.0, 0.0, 0.0, 1.0)),   // exact repeat of 12 -> collapse
      (14L, null.asInstanceOf[Array[Double]]), // no evidence -> keep
      (15L, null.asInstanceOf[Array[Double]])
    ).toDF("doc_id", "embedding")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val stage = new StreamingSemDeDup().setInputCol("embedding")
      .setFromModel(m).setCorpusIndex(idx)
    val viaDsl = ids(stage.transform(batch))
    val viaMb = ids(stage.transformMicroBatch(batch))
    // which of an exact-repeat pair survives is arbitrary on both paths
    def canon(s: Set[Long]): Set[Long] =
      s.map(i => if (i == 13L) 12L else i)
    assert(canon(viaMb) == canon(viaDsl), s"micro-batch $viaMb vs DSL $viaDsl")
    assert(canon(viaMb) == Set(12L, 14L, 15L))
    // probe state is built once per index reference and reused
    val b1 = stage.cachedFbProbe.get
    stage.transformMicroBatch(batch)
    assert(stage.cachedFbProbe.get.id == b1.id)
    stage.setCorpusIndex(idx)
    assert(stage.cachedFbProbe.isEmpty)
    intercept[org.apache.spark.SparkException] { b1.value }
  }

  test("StreamingSemDeDup.transformMicroBatch handles an index the " +
    "broadcast ceiling refuses") {
    val corpus = (0 until 8)
      .map(i => (i.toLong, Array(math.cos(i * 0.7), math.sin(i * 0.7))))
      .toDF("doc_id", "embedding")
    val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).setThreshold(0.999).fit(corpus)
    val stage = new StreamingSemDeDup().setInputCol("embedding")
      .setFromModel(m).setMaxIndexEntries(2)
      .setCorpusIndex(m.indexCorpus(corpus))
    val e = intercept[IllegalArgumentException] { stage.transform(corpus) }
    assert(e.getMessage.contains("transformMicroBatch"))
    // the two-tier path shoulders the same index: every doc is its own
    // corpus twin at cosine exactly 1 -> all drop
    assert(stage.transformMicroBatch(corpus).count() == 0)
    // a hand-built index with no-evidence (null) rows must not NPE the
    // corpus-side probe (the DSL path's na.drop posture)
    val withNulls = m.indexCorpus(corpus).unionByName(
      spark.sql("SELECT CAST(NULL AS BIGINT) AS __id, " +
        "CAST(NULL AS ARRAY<DOUBLE>) AS __v, " +
        "CAST(NULL AS INT) AS __cell, CAST(NULL AS DOUBLE) AS __csim"))
    val stage2 = new StreamingSemDeDup().setInputCol("embedding")
      .setFromModel(m).setMaxIndexEntries(2).setCorpusIndex(withNulls)
    assert(stage2.transformMicroBatch(corpus).count() == 0)
  }

  test("StreamingSemDeDup.transformMicroBatch has no per-cell cap: a " +
    "degenerate cell decides exactly like the DSL path, and an " +
    "all-novel batch skips the index pass") {
    // one fat cell (the exhaustive worst case): the duplicate of the
    // cell's LAST member must still drop — nothing in tier 2
    // materializes O(pairs), so no skew cap exists to miss it
    val corpus = ((0 until 64).map(i =>
      (i.toLong, Array(1.0, i * 0.001))) :+ (64L -> Array(0.8, 0.6)))
      .toDF("doc_id", "embedding")
    val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).setThreshold(0.97).fit(corpus)
    val idx = m.indexCorpus(corpus)
    val batch = Seq((10L, Array(0.8, 0.6))).toDF("doc_id", "embedding")
    val stage = new StreamingSemDeDup().setInputCol("embedding")
      .setFromModel(m).setCorpusIndex(idx)
    assert(stage.transformMicroBatch(batch).count() == 0)
    // an all-novel batch under a MULTI-cell quantizer: unoccupied
    // cells pass tier 1 and the batch survives intact
    val m2 = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(2).setThreshold(0.97)
      .fit(Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
        .toDF("doc_id", "embedding"))
    val corpus2 = Seq((0L, Array(1.0, 0.0))).toDF("doc_id", "embedding")
    val stage2 = new StreamingSemDeDup().setInputCol("embedding")
      .setFromModel(m2).setCorpusIndex(m2.indexCorpus(corpus2))
    val novel = Seq((20L, Array(0.0, 1.0)), (21L, Array(0.01, 1.0)))
      .toDF("doc_id", "embedding")
    assert(stage2.transformMicroBatch(novel).count() == 2)
  }

  test("StreamingMinHashDeduplicator.setCorpusIndex detaches the raw " +
    "corpus: a fold's new documents catch their near-duplicates") {
    val words = (0 until 60).map(i => s"w$i")
    val doc1 = words.take(30).mkString(" ")
    val doc50 = words.drop(30).mkString(" ")
    // doc 50 with its last word replaced: 3-shingle Jaccard 25/31
    val nearDup50 = (words.slice(30, 59) :+ "zz").mkString(" ")
    val raw1 = Seq((1L, doc1)).toDF("doc_id", "text")
    val raw150 = Seq((1L, doc1), (50L, doc50)).toDF("doc_id", "text")
    def index(df: org.apache.spark.sql.DataFrame) =
      StreamingMinHashDeduplicator.signatureIndex(df, "doc_id", "text", 3, 128)
    val batch = Seq((100L, nearDup50)).toDF("doc_id", "text")
    val st = new StreamingMinHashDeduplicator().setInputCol("text")
      .setThreshold(0.5)
      .setCorpusIndex(index(raw1)).setCorpus(raw1, "doc_id", "text")
    // the fold: swap in the index grown by doc 50
    st.setCorpusIndex(index(raw150))
    assert(st.transformMicroBatch(batch).count() == 0,
      "near-dup of the folded doc 50 must drop after the index swap")
    // exact verification after the swap re-attaches the grown raw corpus
    st.setCorpus(raw150, "doc_id", "text")
    assert(st.transformMicroBatch(batch).count() == 0)
  }

  test("StreamingMinHashDeduplicator verifyMode=exact makes corpus " +
    "decisions batch-identical at the cutoff (parity with the " +
    "incremental exact mode on threshold-straddling pairs)") {
    // exact Jaccard sweeps through the 0.5 threshold on this fixture
    val (corpus, batch) = graft.dedup.IncrementalMinHashSuite.graded(spark)
    val idx = StreamingMinHashDeduplicator.signatureIndex(
      corpus, "doc_id", "text", 3, 32)
    // the attached raw corpus selects exact verification
    def survivors(mode: String): Set[Long] = {
      val st = new StreamingMinHashDeduplicator().setInputCol("text")
        .setNumHashes(32).setBands(16).setThreshold(0.5)
        .setCorpusIndex(idx)
      if (mode == "exact") st.setCorpus(corpus, "doc_id", "text")
      st.transformMicroBatch(batch).select("doc_id").as[Long].collect().toSet
    }
    val exact = survivors("exact")
    val sig = survivors("signature")
    // the reference decisions: the batch incremental deduplicator's
    // exact corpus check on the same shape
    val incr = new graft.dedup.IncrementalMinHashDeduplicator()
      .setInputCol("text").setIdCol("doc_id")
      .setNumHashes(32).setBands(16).setThreshold(0.5)
      .setCorpus(corpus)
      .transform(batch).select("doc_id").as[Long].collect().toSet
    assert(exact == incr, s"streaming exact $exact vs incremental $incr")
    // at 32 hashes (se ~0.09 at t=0.5) the graded fixture straddles:
    // the estimate-based and exact decisions genuinely differ on at
    // least one pair, so the tier switch is observable
    assert(exact != sig,
      s"fixture no longer straddles the cutoff (exact == signature == $exact)")
    // DSL path refuses a raw corpus (text-free by design)
    val e = intercept[IllegalArgumentException] {
      new StreamingMinHashDeduplicator().setInputCol("text")
        .setCorpusIndex(idx).setCorpus(corpus, "doc_id", "text")
        .transform(batch)
    }
    assert(e.getMessage.contains("foreachBatch"))
  }
}
