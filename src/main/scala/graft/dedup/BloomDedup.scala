package graft.dedup

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-membership (Bloom filter) cascade for incremental exact
  * dedup — the standard way to make the snapshot-delta steady state
  * cheap at web scale (Bloom 1970; the CCNet/Dolma-style crawl
  * pipelines keep exactly this kind of seen-before filter).
  *
  * [[IncrementalDeduplicator]] keeps 16 bytes/doc and anti-joins every
  * batch row against that index. This operator adds a ~`bitsPerDoc`-bit
  * (default 10 ≈ 1.25 bytes/doc — 13x smaller) PARTITIONED Bloom index
  * in front of it:
  *
  *  - a batch row whose k probe bits are not all set is DEFINITELY new
  *    (Bloom filters have no false negatives) — it never touches the
  *    fingerprint index;
  *  - the ~1% "maybe seen" remainder (true dups + ~0.8% false
  *    positives at the 10-bit default) either verifies against the
  *    exact index (`verify="exact"`, the cascade — output PROVABLY
  *    equals [[IncrementalDeduplicator]], which is what the driver gate
  *    hashes) or is dropped outright (`verify="approximate"` — no
  *    exact index needed at all; loses a false-positive fraction of
  *    genuinely-new docs, bounded by (1-e^(-k/bitsPerDoc))^k and
  *    measured in the suite).
  *
  * Scale shape: the index is a DataFrame of `numBuckets` rows
  * `(__bucket, __bits, __m, __k, __nb)` — bucket = fp mod numBuckets,
  * bits built by a map-side-combining byte-array-OR Aggregator (OR is
  * commutative/associative, so the bits are order-independent and the
  * build is deterministic). Nothing is collected to or sized by the
  * driver: at 10^11 docs × 10 bits = 125 GB of filter, the index stays
  * distributed and the batch meets it in a SHUFFLE join keyed by
  * bucket (size numBuckets so a bucket's bits are a few MB — the one
  * row replicated per matching batch partition). The batch payload
  * still moves through exactly one exchange: the in-batch `min_by`
  * collapse, whose hash partitioning the bucket join and the exact
  * verify anti-join both reuse where keys allow. The "maybe" side that
  * reaches the exact index is dup-rate + FPR of the batch — on a
  * mostly-new crawl the heavy 16 B/doc index is touched by ~1% of rows
  * instead of all of them.
  *
  * Bit placement: a splitmix64 chain seeded from the
  * [[ExactDeduplicator]] 128-bit xxhash64 pair (same canonicalization
  * and collision posture as the exact path), pos_i = mix^(i+1)(fp ^
  * mix(fp2)) mod m — fully deterministic, and every probe position is
  * an independent full-avalanche hash. The textbook cheaper scheme —
  * Kirsch-Mitzenmacher double hashing, pos_i = fp + i·(fp2|1) mod m —
  * was tried first and REJECTED with a measured defect: its
  * arithmetic-progression probe pattern has an additive ~k/m
  * false-positive term that the bit budget cannot buy down, invisible
  * at MB buckets but fatal at small m (at the sf0.001 fixture's
  * 512-bit buckets the 40-bit/doc "5e-9" configuration measured TWO
  * false positives in 125 probes; graft.tools.BloomProbe). The chain
  * costs k multiplications per doc and makes the FPR formula hold at
  * every m.
  */
class BloomIncrementalDeduplicator(override val uid: String)
    extends Transformer with HasInputCol with GraftWritable {
  def this() = this(Identifiable.randomUID("BloomIncrementalDedup"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  def setIdCol(v: String): this.type = set(idCol, v)

  /** Same semantics as [[IncrementalDeduplicator.priorityCol]]. */
  final val priorityCol = new Param[String](this, "priorityCol",
    "numeric column; lowest value kept per in-batch duplicate group")
  def setPriorityCol(v: String): this.type = set(priorityCol, v)

  final val verify = new Param[String](this, "verify",
    "maybe-seen handling: exact (cascade to fingerprint index; output " +
      "== IncrementalDeduplicator) or approximate (drop maybes; " +
      "no exact index, FPR-bounded loss)",
    ParamValidators.inArray(Array("exact", "approximate")))
  setDefault(verify -> "exact")
  def setVerify(v: String): this.type = set(verify, v)

  // per-run inputs, not model state (the IncrementalDeduplicator
  // pattern): only params persist; the loader re-attaches the indexes
  private var bloomIdx: DataFrame = _
  private var exactIdx: DataFrame = _
  /** The `(__bucket, __bits, __m, __k, __nb)` frame from
    * [[BloomIncrementalDeduplicator.buildIndex]] — self-describing, so
    * a filter built last week and read back from parquet needs no
    * matching params here. */
  def setBloomIndex(df: DataFrame): this.type = { bloomIdx = df; this }
  /** The exact `(__fp, __fp2)` frame ([[IncrementalDeduplicator
    * .fingerprintIndex]]); required for `verify="exact"`. */
  def setCorpusIndex(df: DataFrame): this.type = { exactIdx = df; this }

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    require(bloomIdx != null, "setBloomIndex first")
    require($(verify) == "approximate" || exactIdx != null,
      "verify=exact needs setCorpusIndex (the (__fp,__fp2) frame)")
    val df = ds.toDF()
    // numBuckets rides the index (one tiny driver read over a
    // numBuckets-row frame, NOT a corpus pass) so build and query can
    // never disagree on the bucket function
    val nb = bloomIdx.select(max(col("__nb"))).head() match {
      case r if r.isNullAt(0) => 1 // empty index: everything misses
      case r => r.getInt(0)
    }
    val joined = DedupFunctions.keepOnePerFingerprint(df,
        DedupFunctions.canonical(col(getInputCol)), $(idCol), get(priorityCol))
      .withColumn("__bucket", pmod(col("__fp"), lit(nb)).cast("int"))
      .join(bloomIdx, Seq("__bucket"), "left_outer")
    val maybe = BloomIncrementalDeduplicator.containsUdf(
      col("__bits"), col("__fp"), col("__fp2"), col("__m"), col("__k"))
    val out = $(verify) match {
      case "approximate" => joined.filter(!maybe)
      case "exact" =>
        // ONE conditional anti-join, not neg ∪ (pos anti-join): a row
        // survives unless it is maybe-seen AND its fingerprint is in
        // the exact index — identical decisions, but the collapsed+
        // probe subtree appears once in the plan instead of twice
        // (sf0.1 plan 69 -> 38 ops, 9 -> 5 scans; the union formulation
        // re-planned it per branch and re-filtered the reused exchange)
        val l = joined.as("l")
        val maybeL = BloomIncrementalDeduplicator.containsUdf(
          col("l.__bits"), col("l.__fp"), col("l.__fp2"),
          col("l.__m"), col("l.__k"))
        l.join(exactIdx.select(col("__fp"), col("__fp2")).as("r"),
          col("l.__fp") === col("r.__fp") &&
            col("l.__fp2") === col("r.__fp2") && maybeL,
          "left_anti")
    }
    out.select(col("__row.*"))
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "inputCol" -> getInputCol)
    if (isSet(priorityCol))
      SchemaChecks.requireCols(schema, "priorityCol" -> $(priorityCol))
    schema
  }
  override def copy(extra: ParamMap): BloomIncrementalDeduplicator = {
    val c = defaultCopy[BloomIncrementalDeduplicator](extra)
    c.bloomIdx = bloomIdx; c.exactIdx = exactIdx
    c
  }
}

object BloomIncrementalDeduplicator
    extends GraftReadable[BloomIncrementalDeduplicator] {

  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  @inline private[graft] def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** k probe-bit test; a null/absent bucket (empty index side of the
    * left_outer join) can contain nothing. */
  private[graft] def contains(bits: Array[Byte], fp: Long, fp2: Long,
      m: Long, k: Int): Boolean = {
    if (bits == null) return false
    var s = fp ^ mix(fp2)
    var i = 0
    while (i < k) {
      s = mix(s)
      val pos = java.lang.Math.floorMod(s, m)
      if ((bits((pos >> 3).toInt) & (1 << (pos & 7).toInt)) == 0)
        return false
      i += 1
    }
    true
  }

  private[graft] val containsUdf =
    udf((bits: Array[Byte], fp: Long, fp2: Long, m: java.lang.Long,
        k: java.lang.Integer) =>
      m != null && contains(bits, fp, fp2, m, k))

  /** Byte-array-OR Bloom builder: input (fp, fp2, m), buffer = the
    * bucket's bit array (allocated on first reduce — zero-size zero).
    * OR is commutative and associative, so map-side combine and any
    * merge order yield identical bits. */
  private class BloomAgg(k: Int)
      extends Aggregator[(Long, Long, Long), Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(b: Array[Byte], a: (Long, Long, Long)): Array[Byte] = {
      val (fp, fp2, m) = a
      val buf = if (b.isEmpty) new Array[Byte]((m >> 3).toInt) else b
      var s = fp ^ BloomIncrementalDeduplicator.mix(fp2)
      var i = 0
      while (i < k) {
        s = BloomIncrementalDeduplicator.mix(s)
        val pos = java.lang.Math.floorMod(s, m)
        buf((pos >> 3).toInt) =
          (buf((pos >> 3).toInt) | (1 << (pos & 7).toInt)).toByte
        i += 1
      }
      buf
    }
    def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = orBits(x, y)
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder = Encoders.BINARY
    def outputEncoder = Encoders.BINARY
  }

  /** In-place bit-OR of two same-size bucket bit arrays into `x`; an
    * empty (zero-buffer) or null side is the identity. OR is commutative
    * and associative, so any merge order yields identical bits. */
  private def orBits(x: Array[Byte], y: Array[Byte]): Array[Byte] =
    if (x.isEmpty) y
    else if (y == null || y.isEmpty) x
    else {
      // same-m enforcement: silently OR-ing up to x.length would
      // either AIOOBE or drop y's tail bits (= missed duplicates in
      // approximate mode) when two differently-sized indexes meet
      require(x.length == y.length,
        s"incompatible Bloom buffers (${x.length} vs ${y.length} bytes " +
          "— indexes built with different m cannot merge)")
      var i = 0
      while (i < x.length) { x(i) = (x(i) | y(i)).toByte; i += 1 }
      x
    }

  /** Build the partitioned Bloom index from an exact `(__fp, __fp2)`
    * fingerprint frame. One pass over the 16 B/doc index (plus a count
    * of it when `expectedDocs` is not given — pass the hint in a
    * pipeline that already knows its row count, the [[SemDeDup]]
    * `corpusSizeHint` convention). Buckets are hash-uniform, so one
    * global per-bucket size `m = bitsPerDoc·n/numBuckets` (rounded up
    * to whole words) holds the per-doc budget everywhere; size
    * `numBuckets` so a bucket's bits land in the low MBs at your
    * corpus scale. k = ln2·bitsPerDoc probes is the standard optimum;
    * FPR ≈ (1-e^(-k/bitsPerDoc))^k ≈ 0.8% at the 10-bit default.
    *
    * Incremental maintenance: OR this batch's survivors' index
    * (buildIndex of their fingerprints with the SAME numBuckets/m —
    * pass `mBitsOverride`) into last week's via
    * [[BloomIncrementalDeduplicator.mergeIndexes]]. */
  def buildIndex(fpIndex: DataFrame, numBuckets: Int = 64,
      bitsPerDoc: Int = 10, expectedDocs: Option[Long] = None,
      mBitsOverride: Option[Long] = None): DataFrame = {
    require(numBuckets > 0 && bitsPerDoc > 0)
    val n = expectedDocs.getOrElse(fpIndex.count()).max(1L)
    val k = math.max(1, math.round(bitsPerDoc * math.log(2)).toInt)
    val m = mBitsOverride.getOrElse(
      ((bitsPerDoc.toLong * n / numBuckets + 63) / 64 * 64).max(64L))
    require(m % 64 == 0, s"mBitsOverride must be a multiple of 64, got $m")
    val agg = udaf(new BloomAgg(k))
    fpIndex
      .groupBy(pmod(col("__fp"), lit(numBuckets)).cast("int").as("__bucket"))
      .agg(agg(col("__fp"), col("__fp2"), lit(m)).as("__bits"))
      .withColumn("__m", lit(m))
      .withColumn("__k", lit(k))
      .withColumn("__nb", lit(numBuckets))
  }

  /** Bit-OR of already-built bucket bit arrays (index maintenance). */
  private class OrAgg
      extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = orBits(b, a)
    def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = orBits(x, y)
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder = Encoders.BINARY
    def outputEncoder = Encoders.BINARY
  }

  /** OR compatible Bloom indexes (same numBuckets/m/k — i.e. built with
    * `mBitsOverride` from the same original sizing) into one: the
    * weekly index update, a numBuckets-row shuffle. */
  def mergeIndexes(indexes: DataFrame*): DataFrame = {
    require(indexes.nonEmpty)
    val orAgg = udaf(new OrAgg)
    indexes.reduce(_.unionByName(_))
      .groupBy(col("__bucket"))
      .agg(orAgg(col("__bits")).as("__bits"),
        max(col("__m")).as("__m"), max(col("__k")).as("__k"),
        max(col("__nb")).as("__nb"))
  }
}
