package graft.dedup

import graft.TestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BloomDedupSuite extends TestBase {
  import spark.implicits._
  import BloomIncrementalDeduplicator._

  private def docs = sfTable("documents").select("doc_id", "text")

  /** The dedup_incremental gate's planted snapshot split. */
  private def split: (DataFrame, DataFrame) = {
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
      .unionByName(docs.filter(col("doc_id") % 8 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 8 === 4)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    (corpus, batch)
  }

  test("no false negatives: every inserted fingerprint tests positive") {
    val rng = new scala.util.Random(7)
    val fps = Seq.fill(2000)((rng.nextLong(), rng.nextLong()))
    val idx = buildIndex(fps.toDF("__fp", "__fp2"), numBuckets = 8)
      .collect().map(r => r.getInt(0) ->
        (r.getAs[Array[Byte]](1), r.getLong(2), r.getInt(3))).toMap
    val nb = 8
    fps.foreach { case (fp, fp2) =>
      val (bits, m, k) = idx(java.lang.Math.floorMod(fp, nb).toInt)
      assert(contains(bits, fp, fp2, m, k), s"false negative for $fp")
    }
  }

  test("false-positive rate stays within theory at the 10-bit default") {
    val rng = new scala.util.Random(11)
    val n = 20000
    val fps = Seq.fill(n)((rng.nextLong(), rng.nextLong()))
    val idx = buildIndex(fps.toDF("__fp", "__fp2"), numBuckets = 8,
      expectedDocs = Some(n.toLong))
      .collect().map(r => r.getInt(0) ->
        (r.getAs[Array[Byte]](1), r.getLong(2), r.getInt(3))).toMap
    val probes = Seq.fill(n)((rng.nextLong(), rng.nextLong()))
    val fp10 = probes.count { case (fp, fp2) =>
      val (bits, m, k) = idx(java.lang.Math.floorMod(fp, 8).toInt)
      contains(bits, fp, fp2, m, k)
    }.toDouble / n
    // theory: (1 - e^(-k/bitsPerDoc))^k ~ 0.0082 for k=7, 10 bits/doc;
    // allow 2.5x sampling slack
    assert(fp10 < 0.021, s"FPR $fp10 above bound")
    assert(fp10 > 0.0, "suspiciously perfect — probe set never collides")
  }

  test("exact cascade output equals IncrementalDeduplicator exactly") {
    val (corpus, batch) = split
    val fpIdx = IncrementalDeduplicator.fingerprintIndex(corpus, "text")
    val expected = new IncrementalDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setCorpusIndex(fpIdx).transform(batch)
    val got = new BloomIncrementalDeduplicator().setInputCol("text")
      .setIdCol("doc_id")
      .setBloomIndex(buildIndex(fpIdx, numBuckets = 16))
      .setCorpusIndex(fpIdx).transform(batch)
    assertDFEq(got, expected)
  }

  test("priorityCol keeps exactly IncrementalDeduplicator's rows, " +
    "null priorities last") {
    val (corpus, batch) = split
    // prefer the larger id — the planted +2000000 in-batch copy — except
    // where that copy's priority is null (doc_id % 3 == 0): nulls rank
    // last, so the original wins those groups
    val prioritized = batch.withColumn("prio",
      when(col("doc_id") % 3 === 0, lit(null)).otherwise(-col("doc_id")))
    val fpIdx = IncrementalDeduplicator.fingerprintIndex(corpus, "text")
    val expected = new IncrementalDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setPriorityCol("prio").setCorpusIndex(fpIdx)
      .transform(prioritized)
    val got = new BloomIncrementalDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setPriorityCol("prio")
      .setBloomIndex(buildIndex(fpIdx, numBuckets = 16))
      .setCorpusIndex(fpIdx).transform(prioritized)
    assertDFEq(got, expected)
    val kept = got.select("doc_id").as[Long].collect().toSet
    assert(kept.exists(_ >= 2000000L), "no group kept its priority winner")
    assert(kept.exists(id => id < 1000000L && id % 8 == 4 && id % 3 == 1),
      "no group kept the original over a null-priority copy")
  }

  test("approximate mode at a high bit budget equals exact on the fixture") {
    val (corpus, batch) = split
    val fpIdx = IncrementalDeduplicator.fingerprintIndex(corpus, "text")
    val expected = new IncrementalDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setCorpusIndex(fpIdx).transform(batch)
    val got = new BloomIncrementalDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setVerify("approximate")
      .setBloomIndex(buildIndex(fpIdx, numBuckets = 16, bitsPerDoc = 40))
      .transform(batch)
    assertDFEq(got, expected)
  }

  test("empty corpus: everything survives minus in-batch collapse") {
    val (_, batch) = split
    val empty = spark.emptyDataFrame
      .withColumn("__fp", lit(0L)).withColumn("__fp2", lit(0L))
      .limit(0)
    val got = new BloomIncrementalDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setVerify("approximate")
      .setBloomIndex(buildIndex(empty, numBuckets = 4))
      .transform(batch)
    val expected = new ExactDeduplicator().setInputCol("text")
      .setIdCol("doc_id").transform(batch)
    assertDFEq(got.select("doc_id"), expected.select("doc_id"))
  }

  test("index is self-describing through a parquet round-trip") {
    val (corpus, _) = split
    val fpIdx = IncrementalDeduplicator.fingerprintIndex(corpus, "text")
    val dir = java.nio.file.Files.createTempDirectory("bloomidx").toString
    buildIndex(fpIdx, numBuckets = 16).write.mode("overwrite")
      .parquet(s"$dir/bloom")
    val loaded = spark.read.parquet(s"$dir/bloom")
    val (_, batch) = split
    val got = new BloomIncrementalDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setBloomIndex(loaded)
      .setCorpusIndex(fpIdx).transform(batch)
    val expected = new IncrementalDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setCorpusIndex(fpIdx).transform(batch)
    assertDFEq(got, expected)
  }

  test("mergeIndexes ORs batch survivors into the corpus index") {
    val (corpus, batch) = split
    val corpusFp = IncrementalDeduplicator.fingerprintIndex(corpus, "text")
    // size both indexes identically (mBitsOverride) so they merge
    val full = IncrementalDeduplicator
      .fingerprintIndex(corpus.unionByName(batch), "text")
    val n = full.count()
    val m = ((10L * n / 16 + 63) / 64 * 64).max(64L)
    val a = buildIndex(corpusFp, numBuckets = 16, mBitsOverride = Some(m))
    val survivors = new IncrementalDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setCorpusIndex(corpusFp).transform(batch)
    val b = buildIndex(
      IncrementalDeduplicator.fingerprintIndex(survivors, "text"),
      numBuckets = 16, mBitsOverride = Some(m))
    val merged = mergeIndexes(a, b)
    // next week: a batch equal to this week's input is ALL seen —
    // approximate mode drops every row
    val next = new BloomIncrementalDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setVerify("approximate")
      .setBloomIndex(merged).transform(batch.unionByName(corpus))
    assert(next.count() == 0)
  }

  test("merging indexes built with different m fails loudly") {
    // silently OR-ing mismatched bit arrays would drop tail bits =
    // missed duplicates in approximate mode; the same-m requirement is
    // enforced in the merge itself
    val (corpus, batch) = split
    val fp = IncrementalDeduplicator.fingerprintIndex(corpus, "text")
    val fp2 = IncrementalDeduplicator.fingerprintIndex(batch, "text")
    val a = buildIndex(fp, numBuckets = 16, mBitsOverride = Some(64L))
    val b = buildIndex(fp2, numBuckets = 16, mBitsOverride = Some(128L))
    val e = intercept[Exception] { mergeIndexes(a, b).collect() }
    def all(t: Throwable): String =
      if (t == null) "" else t.getMessage + all(t.getCause)
    assert(all(e).contains("incompatible Bloom buffers"))
  }

  test("maybe-volume: only dup-rate + FPR of a fresh batch hits the exact index") {
    val (corpus, batch) = split
    val fpIdx = IncrementalDeduplicator.fingerprintIndex(corpus, "text")
    val bloom = buildIndex(fpIdx, numBuckets = 16)
    // reproduce the operator's internal maybe test to measure the
    // cascade reduction the scaladoc promises
    val canon = DedupFunctions.canonical(col("text"))
    val probes = batch
      .select(xxhash64(canon).as("__fp"),
        xxhash64(lit(0x9e3779b9L), canon).as("__fp2"))
      .distinct() // per unique doc, like the dup-rate denominator below
      .withColumn("__bucket", pmod(col("__fp"), lit(16)).cast("int"))
      .join(bloom, Seq("__bucket"), "left_outer")
    val total = probes.count().toDouble
    val maybes = probes.filter(BloomIncrementalDeduplicator.containsUdf(
      col("__bits"), col("__fp"), col("__fp2"), col("__m"), col("__k")))
      .count().toDouble
    val trueDups = batch
      .select(DedupFunctions.canonical(col("text")).as("c")).distinct()
      .join(corpus.select(DedupFunctions.canonical(col("text")).as("c"))
        .distinct(), Seq("c"), "left_semi").count().toDouble
    // the splitmix64 probe chain keeps FPR on-theory (~0.8%) even in
    // this fixture's tiny word-floor buckets; slack covers the
    // ~100-new-doc binomial sample
    assert(maybes / total < trueDups / total + 0.05,
      s"maybe rate ${maybes / total} not close to dup rate ${trueDups / total}")
  }
}
