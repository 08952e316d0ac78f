package graft
package gates

import graft.sim._
import graft.gates.GateSupport.tbl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming gates (SURVEY.md §2.10): windowed aggregation
  * and sessionization on batch frames, and the Structured Streaming dedup,
  * KNN and session faces read through a FileStreamSource. */
object StreamingGates {
  /** Directory to hand a FileStreamSource for table `name`: the
    * driver's testdata stores each table as a SINGLE parquet file (the
    * source wants a directory — expose the file through a temp-dir
    * symlink), while Spark-written corpora (the 10x/100x ScaleGen
    * replicas) store it as a parquet DIRECTORY that can be streamed
    * directly. Without the branch the symlink points at a directory the
    * source never descends into — the stream is silently EMPTY, which
    * made the streaming gates' scaled-corpus walls meaninglessly fast. */
  private def streamingPath(dir: String, name: String, tag: String): String = {
    val src = java.nio.file.Paths.get(s"$dir/$name.parquet")
    if (java.nio.file.Files.isDirectory(src)) src.toString
    else {
      val tmp = java.nio.file.Files.createTempDirectory(tag)
      tmp.toFile.deleteOnExit()
      java.nio.file.Files.createSymbolicLink(
        tmp.resolve(s"$name.parquet"), src.toAbsolutePath)
      tmp.toString
    }
  }

  // exact-Jaccard replay of the streaming near-dup decisions (sound:
  // measured margins — see the query's comment), then the
  // surviving DISTINCT canonical-text set (in-stream exact dedup).
  // The n=0 rule mirrors the engine: an empty-shingle doc carries the
  // all-sentinel signature and matches other empty docs exactly
  private val MinHashStreamOracle: String =
    """WITH c AS MATERIALIZED (
      |  SELECT doc_id, text, list_filter(string_split_regex(lower(text),
      |    '[\t\n\x0B\f\r\x1C-\x1F \x{1680}\x{2000}-\x{2006}\x{2008}-\x{200A}\x{2028}\x{2029}\x{205F}\x{3000}]+'), t -> t <> '') AS toks
      |  FROM documents),
      |s AS MATERIALIZED (
      |  SELECT doc_id, text,
      |    list_distinct([array_to_string(
      |      toks[CAST(i AS BIGINT):CAST(i AS BIGINT)+2], ' ')
      |      for i in range(1, len(toks) - 1)]) AS sh
      |  FROM c),
      |corp AS (SELECT doc_id, sh FROM s WHERE doc_id % 4 <> 0),
      |bat AS (
      |  SELECT doc_id, text, sh FROM s WHERE doc_id % 4 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, sh FROM s WHERE doc_id % 8 = 1
      |  UNION ALL
      |  SELECT doc_id + 2000000, text, sh FROM s WHERE doc_id % 8 = 4),
      |bsz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM bat),
      |csz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM corp),
      |bex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM bat),
      |cex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM corp),
      |cd AS (
      |  SELECT q.bid AS r FROM (
      |    SELECT b.doc_id AS bid, cx.doc_id AS cid, count(*) AS inter
      |    FROM bex b JOIN cex cx ON b.g = cx.g GROUP BY 1, 2) q
      |  JOIN bsz ON bsz.doc_id = q.bid
      |  JOIN csz ON csz.doc_id = q.cid
      |  WHERE CAST(q.inter AS DOUBLE) / (bsz.n + csz.n - q.inter) >= 0.85
      |  UNION ALL
      |  SELECT b.doc_id FROM bsz b
      |  WHERE b.n = 0 AND EXISTS (SELECT 1 FROM csz WHERE n = 0))
      |SELECT DISTINCT
      |  lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS ct
      |FROM bat WHERE doc_id NOT IN (SELECT r FROM cd)""".stripMargin

  // all-pairs replay of the streaming semantic decisions (single-cell
  // quantizer => the broadcast probe IS exhaustive): a base %4==0 id
  // survives iff no corpus vector sits at cosine >= 0.465; the %8==1
  // offset copies are identical to corpus vectors (cosine 1, always
  // dropped by the probe) and the %8==4 copies collapse onto their
  // bit-identical base twin in the in-stream exact state, so the
  // distinct base-id set is exactly the probe decisions
  private val SemDedupStreamOracle: String =
    """WITH corp AS MATERIALIZED (
      |  SELECT embedding FROM embeddings WHERE vec_id % 4 <> 0)
      |SELECT vec_id FROM embeddings b
      |WHERE vec_id % 4 = 0 AND NOT EXISTS (
      |  SELECT 1 FROM corp c
      |  WHERE list_cosine_similarity(b.embedding, c.embedding)
      |    >= 0.465)""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("window_agg_hourly", { (s, dir) =>
      new graft.streaming.EventTimeWindowAggregator()
        .setTimeCol("ts").setWindowDuration("1 hour")
        .setGroupCols(Seq("event_type")).setValueCol("value")
        .transform(tbl(s, dir, "events"))
    }, oracle = Some(
      """SELECT
        |  make_timestamp(CAST(FLOOR(FLOOR(epoch(ts)) / 3600) * 3600 AS BIGINT) * 1000000) AS window_start,
        |  make_timestamp((CAST(FLOOR(FLOOR(epoch(ts)) / 3600) * 3600 AS BIGINT) + 3600) * 1000000) AS window_end,
        |  event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2, 3""".stripMargin)),

    Gate("sessionize", { (s, dir) =>
      new graft.streaming.Sessionize().setKeyCol("user_id")
        .setTimeCol("ts").setGapSeconds(1800)
        .transform(tbl(s, dir, "events"))
        .select(col("event_id"), col("user_id"), col("session_id"))
    }, oracle = Some(
      """SELECT event_id, user_id,
        |  CAST(SUM(CASE WHEN gap THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY user_id ORDER BY secs
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
        |    AS session_id
        |FROM (
        |  SELECT event_id, user_id, FLOOR(epoch(ts)) AS secs,
        |    (FLOOR(epoch(ts)) - lag(FLOOR(epoch(ts))) OVER (
        |      PARTITION BY user_id ORDER BY FLOOR(epoch(ts)))) > 1800 AS gap
        |  FROM events)""".stripMargin)),

    // Same operator, same oracle as window_agg_hourly — but executed
    // through the Structured Streaming ENGINE end-to-end: file source →
    // watermarked event-time window agg → memory sink, one AvailableNow
    // run. Complete output mode so the final windows (which an append-
    // mode watermark would hold back at end-of-input) are emitted; the
    // watermark column plumbing is still exercised. Closes the last
    // driver-untested execution mode (VERDICT r9 "What's missing" #3).
    Gate("window_agg_hourly_stream", { (s, dir) =>
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(schema)
        .parquet(streamingPath(dir, "events", "wah_stream"))
      val agg = new graft.streaming.EventTimeWindowAggregator()
        .setTimeCol("ts").setWindowDuration("1 hour")
        .setGroupCols(Seq("event_type")).setValueCol("value")
        .setWatermark("1 hour")
        .transform(stream)
      val qname = s"wah_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = agg.writeStream.format("memory").queryName(qname)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
    }, oracle = Some(
      // events.ts is TIMESTAMP(NANOS) parquet: epoch seconds = nanos DIV 1e9;
      // make_timestamp (not to_timestamp) so the oracle stays naive-UTC like
      // the parquet round trip of Spark's window bounds
      // the streaming-engine run must agree with the batch oracle exactly
      """SELECT
        |  make_timestamp(CAST(FLOOR(FLOOR(epoch(ts)) / 3600) * 3600 AS BIGINT) * 1000000) AS window_start,
        |  make_timestamp((CAST(FLOOR(FLOOR(epoch(ts)) / 3600) * 3600 AS BIGINT) + 3600) * 1000000) AS window_end,
        |  event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2, 3""".stripMargin)),

    // Streaming dedup executed through the Structured Streaming ENGINE:
    // file source → watermarked dropDuplicatesWithinWatermark on the
    // canonical-text fingerprint → memory sink. WHICH copy of a
    // duplicate group survives a micro-batch is engine-arbitrary, so
    // the gate hashes the survivor set's CANONICAL TEXTS — identical
    // within a group by definition — which the oracle replays as a
    // plain DISTINCT. (The fixture has natural exact dups at sf0.1, so
    // the sweep exercises real collapses.)
    Gate("dedup_exact_stream", { (s, dir) =>
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      // synthetic event times sit well past the epoch: Spark's INITIAL
      // watermark is 1970-01-01T00:00:00Z, and a row whose event time
      // equals it (doc_id 0 under a bare from_unixtime) is dropped as
      // late before the dedup ever sees it
      val stream = s.readStream.schema(schema)
        .parquet(streamingPath(dir, "documents", "dedup_stream"))
        .withColumn("ts",
          to_timestamp(from_unixtime(col("doc_id") + lit(1700000000L))))
      val dedup = new graft.streaming.StreamingDeduplicator()
        .setInputCol("text").setTimeCol("ts").setWatermarkDelay("3650 days")
        .transform(stream)
      val qname = s"dedup_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = dedup.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select(graft.dedup.DedupFunctions.canonical(col("text")).as("ct"))
    }, oracle = Some(
      """SELECT DISTINCT
        |  lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS ct
        |FROM documents""".stripMargin)),

    // Streaming NEAR-dup text dedup (round 17) — the MinHash family's
    // streaming face, completing the streaming dedup story (exact text
    // / perceptual media / near-dup text). Same fixture as
    // dedup_incremental_minhash_sig, run through the REAL engine: the
    // corpus (doc_id % 4 != 0) persists its signature index; the stream
    // carries the %4==0 docs plus id-offset VERBATIM copies — the
    // %8==1 copies duplicate CORPUS docs and must drop via the
    // broadcast band probe (signature agreement 1), while the %8==4
    // copies duplicate %4==0 STREAM docs and exercise the IN-STREAM
    // exact state instead (their canonical twin rides the same run).
    // %4==0 docs drop iff a corpus doc sits at
    // estimate >= 0.85 — replayable with EXACT Jaccard because
    // every candidate pair of this fixture measured >= 0.035 from the
    // cutoff on BOTH spectra (zero estimate-vs-exact flips, all three sf
    // dirs; numbers as recorded; DedupSuite asserts the margin). The
    // gate emits the DISTINCT surviving CANONICAL-TEXT set (the
    // dedup_exact_stream convention — which copy of canonically-equal
    // rows survives the in-stream state is engine-arbitrary, the set is
    // not).
    Gate("dedup_minhash_stream", { (s, dir) =>
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val corpus = tbl(s, dir, "documents")
        .filter(col("doc_id") % 4 =!= 0)
        .select(col("doc_id"), col("text"))
      val idx = graft.streaming.StreamingMinHashDeduplicator
        .signatureIndex(corpus, "doc_id", "text", 3, 128)
      def src() = s.readStream.schema(schema)
        .parquet(streamingPath(dir, "documents", "mh_stream"))
      val stream = src().filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(src().filter(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(src().filter(col("doc_id") % 8 === 4)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        .withColumn("ts", to_timestamp(from_unixtime(
          col("doc_id") % 1000000L + lit(1700000000L))))
      val dedup = new graft.streaming.StreamingMinHashDeduplicator()
        .setInputCol("text").setTimeCol("ts")
        .setWatermarkDelay("3650 days").setThreshold(0.85)
        .setCorpusIndex(idx)
        .transform(stream)
      val qname = s"mh_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = dedup.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select(graft.dedup.DedupFunctions.canonical(col("text")).as("ct"))
        .distinct()
    }, oracle = Some(MinHashStreamOracle)),

    // the SAME near-dup streaming fixture through the LARGE-INDEX mode
    // (round 18): a real engine run whose sink is foreachBatch +
    // StreamingMinHashDeduplicator.transformMicroBatch — Bloom band-key
    // prefilter broadcast (tier 1), flagged rows verified through a
    // distributed equi band join on the persisted index (tier 2), NO
    // signature broadcast. Decisions match the DSL path (Bloom has no
    // false negatives; the verify is the same signature agreement), so
    // the gate shares dedup_minhash_stream's oracle verbatim.
    Gate("dedup_minhash_stream_fb", { (s, dir) =>
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val corpus = tbl(s, dir, "documents")
        .filter(col("doc_id") % 4 =!= 0)
        .select(col("doc_id"), col("text"))
      val idx = graft.streaming.StreamingMinHashDeduplicator
        .signatureIndex(corpus, "doc_id", "text", 3, 128)
      def src() = s.readStream.schema(schema)
        .parquet(streamingPath(dir, "documents", "mh_fb_stream"))
      val stream = src().filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(src().filter(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(src().filter(col("doc_id") % 8 === 4)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val stage = new graft.streaming.StreamingMinHashDeduplicator()
        .setInputCol("text").setThreshold(0.85).setCorpusIndex(idx)
      val outDir = java.nio.file.Files
        .createTempDirectory("mh_fb_out").toString
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          stage.transformMicroBatch(b)
            .write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .select(graft.dedup.DedupFunctions.canonical(col("text")).as("ct"))
        .distinct()
    }, oracle = Some(
      // the foreachBatch (two-tier, large-index) run of the SAME fixture
      // decides identically to the broadcast DSL path — one oracle serves
      // both (Bloom tier 1 has no false negatives; tier 2 verifies the
      // same signature agreement)
      MinHashStreamOracle)),

    // Streaming PERCEPTUAL dedup — the fingerprint family's streaming
    // face (round 17; mirrors dedup_exact_stream): the corpus index
    // holds every member of the EVEN planted audio groups; the stream
    // carries two exact re-encodes (members 0 and 1) of EVERY group.
    // Even-group rows must be dropped by the pigeonhole index probe
    // (their fingerprints sit at hamming 0 of the index; cross-group
    // contours are >= 12 bits away, AudioFingerprintSuite margins) and
    // odd-group pairs collapse in-stream (exact re-encodes are
    // bit-identical by construction) — survivors are ONE row per odd
    // group. The gate emits the group id, not the surviving doc_id:
    // which member of a bit-identical pair arrives first is
    // order-dependent, the surviving GROUP SET is not.
    Gate("audio_fp_dedup_stream", { (s, dir) =>
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val wav = udf((id: Long) => MediaFixtures.testFpWavBytes(id))
      val corpus = tbl(s, dir, "documents").select(col("doc_id"))
        .filter((col("doc_id") / 4).cast("long") % 2 === 0)
        .withColumn("payload", wav(col("doc_id")))
      val idx = graft.streaming.StreamingFingerprintDeduplicator
        .fingerprintIndex(corpus, "payload", "audio")
      val stream = s.readStream.schema(schema)
        .parquet(streamingPath(dir, "documents", "audiofp_stream"))
        .filter(col("doc_id") % 4 <= 1)
        .select(col("doc_id"))
        .withColumn("payload", wav(col("doc_id")))
        .withColumn("ts",
          to_timestamp(from_unixtime(col("doc_id") + lit(1700000000L))))
      val dedup = new graft.streaming.StreamingFingerprintDeduplicator()
        .setModality("audio").setInputCol("payload").setTimeCol("ts")
        .setWatermarkDelay("3650 days").setCorpusIndex(idx)
        .transform(stream)
      val qname = s"audiofp_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = dedup.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select((col("doc_id") / 4).cast("long").as("group_id"))
    }, oracle = Some(
      // streaming survivors = exactly the odd planted groups (even groups
      // are in the corpus index; in-stream bit-identical pairs collapse
      // to one row per group)
      """SELECT DISTINCT doc_id // 4 AS group_id
        |FROM documents WHERE (doc_id // 4) % 2 = 1""".stripMargin)),

    // Streaming SEMANTIC dedup (round 18) — closes the last cell of the
    // batch/incremental/streaming × exact/near-dup/perceptual/semantic
    // dedup matrix. The semdedup_incremental_exact fixture run through
    // the REAL engine: the corpus (vec_id % 4 != 0) persists its
    // embedding index under a single-cell quantizer (the exhaustive,
    // SQL-replayable setting — every corpus member shares the stream
    // doc's cell, so the broadcast probe compares every pair); the
    // stream carries the %4==0 vectors plus id-offset VERBATIM copies:
    // the %8==1 copies duplicate CORPUS vectors (cosine exactly 1) and
    // must drop via the broadcast cell probe, while the %8==4 copies
    // duplicate %4==0 STREAM vectors and exercise the IN-STREAM
    // exact-embedding state instead (their bit-identical twin rides the
    // same run). A %4==0 doc drops iff a corpus vector sits at cosine
    // >= 0.465 — the threshold in the measured sf0.01 cosine-spectrum
    // gap (nearest pairs 0.4666/0.4597, the semdedup_exact margins).
    // The gate emits the DISTINCT surviving BASE-id set (vec_id %
    // 1000000 — which copy of bit-identical vectors survives the
    // in-stream state is engine-arbitrary, the set is not; all
    // embeddings-table vectors are pairwise distinct, so distinct base
    // ids replay closed-form).
    Gate("semdedup_stream", { (s, dir) =>
      val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
      val emb = tbl(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
        .setIdCol("vec_id").setThreshold(0.465).setNClusters(1)
        .fit(corpus)
      val idx = m.indexCorpus(corpus)
      def src() = s.readStream.schema(schema)
        .parquet(streamingPath(dir, "embeddings", "semdd_stream"))
      val stream = src().filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding"))
        .unionByName(src().filter(col("vec_id") % 8 === 1)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .unionByName(src().filter(col("vec_id") % 8 === 4)
          .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")))
        .withColumn("ts", to_timestamp(from_unixtime(
          col("vec_id") % 1000000L + lit(1700000000L))))
      val dedup = new graft.streaming.StreamingSemDeDup()
        .setInputCol("embedding").setTimeCol("ts")
        .setWatermarkDelay("3650 days")
        // the single-cell quantizer makes the stage spread each
        // micro-batch before its FAT exhaustive probe (every corpus
        // member in one buffer): the fixture source is one parquet file
        // (~3 splits), and unspread the x100 sweep stranded the probe on
        // 2 of 32 cores
        .setFromModel(m).setCorpusIndex(idx)
        .transform(stream)
      val qname = s"semdd_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = dedup.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select((col("vec_id") % 1000000L).as("vec_id")).distinct()
    }, oracle = Some(SemDedupStreamOracle)),

    // the SAME semantic streaming fixture through the LARGE-INDEX mode
    // (round 19 — the MinHash face's dedup_minhash_stream_fb pattern on
    // the family's FATTEST index): a real engine run whose sink is
    // foreachBatch + StreamingSemDeDup.transformMicroBatch —
    // occupied-cell BitSet prefilter broadcast (tier 1, exact), flagged
    // rows verified through ONE distributed cell equi-join against the
    // bounded per-cell corpus buffer frame (tier 2), NO vector
    // broadcast. Decisions match the DSL path (the BitSet tier cannot
    // lose or invent a candidate cell; the verify is the same family
    // cosine rule), so the gate shares semdedup_stream's oracle
    // verbatim.
    Gate("semdedup_stream_fb", { (s, dir) =>
      val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
      val emb = tbl(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
        .setIdCol("vec_id").setThreshold(0.465).setNClusters(1)
        .fit(corpus)
      val idx = m.indexCorpus(corpus)
      def src() = s.readStream.schema(schema)
        .parquet(streamingPath(dir, "embeddings", "semdd_fb_stream"))
      val stream = src().filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding"))
        .unionByName(src().filter(col("vec_id") % 8 === 1)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .unionByName(src().filter(col("vec_id") % 8 === 4)
          .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")))
      val stage = new graft.streaming.StreamingSemDeDup()
        .setInputCol("embedding").setFromModel(m).setCorpusIndex(idx)
      val outDir = java.nio.file.Files
        .createTempDirectory("semdd_fb_out").toString
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          stage.transformMicroBatch(b)
            .write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .select((col("vec_id") % 1000000L).as("vec_id")).distinct()
    }, oracle = Some(
      // the semantic face's two-tier run: the occupied-cell BitSet is
      // exact and the tier-2 verify is the same cosine rule, so the
      // all-pairs oracle serves it verbatim too
      SemDedupStreamOracle)),

    // Streaming ANN ENRICHMENT (round 18) — the retrieval face of the
    // streaming family: each streamed image embeds and is tagged with
    // its top-4 corpus neighbors from the broadcast IVF index, map-only
    // per micro-batch, zero state. nProbe == nLists probes every cell,
    // so the result is EXACT and the planted re-encode groups make it
    // closed-form: every query's true top-4 is its own 4-member group
    // (within-group cosine >= 0.99989, cross <= 0.68908 — the
    // PHashProbe margins), so per-query in-group hits == 4.
    Gate("knn_stream", { (s, dir) =>
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val bmp = udf((id: Long) => MediaFixtures.testBmpBytes(id))
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("payload", bmp(col("doc_id")))
      val emb = new graft.image.ImageEmbedder().setInputCol("payload")
        .transform(docs).select(col("doc_id"), col("image_embedding"))
        .localCheckpoint()
      val ivf = new IVFNearestNeighbors().setInputCol("image_embedding")
        .setIdCol("doc_id").setNLists(8).fit(emb)
      val stream = s.readStream.schema(schema)
        .parquet(streamingPath(dir, "documents", "knn_stream"))
        .filter(col("doc_id") < 200)
        .select(col("doc_id"))
        .withColumn("payload", bmp(col("doc_id")))
      val embedded = new graft.image.ImageEmbedder().setInputCol("payload")
        .transform(stream)
      val tagged = new graft.streaming.StreamingNearestNeighbors()
        .setInputCol("image_embedding").setK(4).setNProbe(8)
        // the x100 sweep corpus holds 500k vectors (~270 MB at dim 63
        // — fine on 128 GiB executors); the conservative 2^18 default
        // stays for users who haven't sized their broadcast
        .setMaxIndexEntries(1 << 20)
        .setFromModel(ivf).setCorpus(emb, "doc_id", "image_embedding")
        .transform(embedded)
      val qname = s"knn_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = tagged.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select(col("doc_id"), explode(col("neighbors.id")).as("id"))
        .filter((col("id") / 4).cast("long") ===
          (col("doc_id") / 4).cast("long"))
        .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    }, oracle = Some(
      // every streamed query's exact top-4 is its own planted 4-member
      // group (nProbe == nLists), so in-group hits is the constant 4
      """SELECT doc_id, CAST(4 AS BIGINT) AS hits
        |FROM documents WHERE doc_id < 200""".stripMargin)),

    // the COMPOSED streaming curation chain (round 18): exact-text
    // dedup THEN semantic dedup as TWO stateful stages of ONE append
    // query — the multiple-stateful-operator capability the dedup
    // matrix's composability story rests on (each stage only sets the
    // watermark when the stream has none, so the chain shares the
    // first stage's — WatermarkUtil). Same fixture as semdedup_stream
    // with text derived from the BASE id: the %8==4 offset copies now
    // collapse at the EXACT-TEXT stage (identical text AND vector, so
    // the semantic decision is unchanged whichever copy survives) and
    // the %8==1 corpus copies pass it (distinct text) to drop at the
    // semantic probe — the surviving base-id set is IDENTICAL to
    // semdedup_stream's, so the oracle is shared verbatim.
    Gate("semdedup_stream_chained", { (s, dir) =>
      val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
      val emb = tbl(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
        .setIdCol("vec_id").setThreshold(0.465).setNClusters(1)
        .fit(corpus)
      val idx = m.indexCorpus(corpus)
      def src() = s.readStream.schema(schema)
        .parquet(streamingPath(dir, "embeddings", "semdd_chain"))
      val stream = src().filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding"))
        .unionByName(src().filter(col("vec_id") % 8 === 1)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .unionByName(src().filter(col("vec_id") % 8 === 4)
          .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")))
        .withColumn("ts", to_timestamp(from_unixtime(
          col("vec_id") % 1000000L + lit(1700000000L))))
        .withColumn("text",
          concat(lit("doc "), (col("vec_id") % 1000000L).cast("string")))
      val exactStage = new graft.streaming.StreamingDeduplicator()
        .setInputCol("text").setTimeCol("ts").setWatermarkDelay("3650 days")
        .transform(stream)
      val dedup = new graft.streaming.StreamingSemDeDup()
        .setInputCol("embedding").setTimeCol("ts")
        .setWatermarkDelay("3650 days") // single cell: the probe spreads
        .setFromModel(m).setCorpusIndex(idx)
        .transform(exactStage)
      val qname = s"semdd_chain_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = dedup.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select((col("vec_id") % 1000000L).as("vec_id")).distinct()
    }, oracle = Some(
      // the chained run collapses the %8==4 copies at the exact-text
      // stage instead of the in-stream embedding state, but the copies
      // are identical in BOTH text and vector, so the surviving
      // base-id set is the same all-pairs decision set
      SemDedupStreamOracle)),

    // the streaming semantic face at its 100 TB OPERATING POINT
    // (auto-k quantizer -> each stream doc probes ONE ~256-member cell
    // buffer instead of the whole corpus): rows-only by design — the
    // k-means cell partition is not SQL-replayable — with
    // semdedup_stream (single-cell = exhaustive) as the hash-green
    // exactness companion, the semdedup_incremental/-_exact pattern.
    // Also the SCALING.md streaming-semantic row's handle.
    Gate("semdedup_stream_autok", { (s, dir) =>
      val hint = new java.io.File(dir).getName match {
        case "sf0.001" | "sf0.01" => 375L
        case "sf0.1" => 1500L
        case _ => 0L
      }
      val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
      val emb = tbl(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
        .setIdCol("vec_id").setThreshold(0.465)
        .setTargetClusterSize(256).setCorpusSizeHint(hint)
        .fit(corpus)
      val idx = m.indexCorpus(corpus)
      def src() = s.readStream.schema(schema)
        .parquet(streamingPath(dir, "embeddings", "semdd_stream_ak"))
      val stream = src().filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding"))
        .unionByName(src().filter(col("vec_id") % 8 === 1)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .unionByName(src().filter(col("vec_id") % 8 === 4)
          .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")))
        .withColumn("ts", to_timestamp(from_unixtime(
          col("vec_id") % 1000000L + lit(1700000000L))))
      val dedup = new graft.streaming.StreamingSemDeDup()
        .setInputCol("embedding").setTimeCol("ts")
        .setWatermarkDelay("3650 days")
        .setFromModel(m).setCorpusIndex(idx)
        .transform(stream)
      val qname = s"semdd_stream_ak_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = dedup.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select((col("vec_id") % 1000000L).as("vec_id")).distinct()
    }, oracle = None),

    // Stateful sessionization executed through the Structured Streaming
    // ENGINE: file source → flatMapGroupsWithState (NoTimeout: timeouts
    // spin perpetual empty micro-batches, incompatible with a bounded
    // AvailableNow run) → memory sink, append mode. The single batch
    // closes every session except each user's still-open LAST one; the
    // oracle replays the same gaps-and-islands in SQL and drops each
    // user's final session. Closes the last operator family whose
    // streaming path had no driver gate (VERDICT r10 "What's missing" #5).
    Gate("sessionize_stream", { (s, dir) =>
      import s.implicits._
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(schema)
        .parquet(streamingPath(dir, "events", "sess_stream"))
      // epoch seconds from native timestamp or legacy long nanos — the
      // same dual handling as the batch Sessionize stage
      val secs = schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("ts DIV 1000000000")
        case _ => unix_timestamp(col("ts"))
      }
      val ev = stream.select(col("user_id").cast("long").as("k"),
        secs.cast("long").as("t")).as[(Long, Long)]
      val closed = graft.streaming.SessionizeStream(ev, 1800L,
        useTimeout = false)(s)
      val qname = s"sess_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = closed.toDF().writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname).select(col("key").as("user_id"),
        col("start").as("session_start"), col("end").as("session_end"),
        col("n"))
    }, oracle = Some(
      // the streaming-engine run emits CLOSED sessions only: every session
      // except each user's last (still open at end-of-input)
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS secs FROM events),
        |b AS (SELECT user_id, secs,
        |    CASE WHEN secs - lag(secs) OVER (
        |      PARTITION BY user_id ORDER BY secs) > 1800
        |    THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, secs,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY secs
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM b),
        |a AS (SELECT user_id, sid, MIN(secs) AS session_start,
        |    MAX(secs) AS session_end, COUNT(*) AS n
        |  FROM g GROUP BY user_id, sid),
        |m AS (SELECT user_id, MAX(sid) AS last_sid FROM a GROUP BY user_id)
        |SELECT a.user_id, a.session_start, a.session_end, a.n
        |FROM a JOIN m USING (user_id) WHERE a.sid < m.last_sid""".stripMargin)),

    Gate("per_instance_stats", { (s, dir) =>
      // deterministic baseline predictor (decimal-exact global mean) so
      // the per-row losses are oracle-checkable
      val ev = tbl(s, dir, "events")
      val mean = ev.agg(graft.core.Determinism
        .deterministicMean(col("value"))).head().getDouble(0)
      new graft.train.ComputePerInstanceStatistics()
        .setLabelCol("value").setEvaluationMetric("regression")
        .transform(ev.withColumn("prediction", lit(mean)))
        .select(col("event_id"), col("L1_loss"), col("L2_loss"))
    }, oracle = Some(
      """WITH m AS (SELECT CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)
        |    / COUNT(value) AS mean FROM events)
        |SELECT event_id,
        |  ABS(m.mean - value) AS L1_loss,
        |  (m.mean - value) * (m.mean - value) AS L2_loss
        |FROM events CROSS JOIN m""".stripMargin))
  )
}
