package graft.text

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Soft deduplication by n-gram commonness (the SoftDeDup idea — He et
  * al. 2024, "SoftDedup: an Efficient Data Reweighting Method for
  * Speeding Up Language Model Pre-training", arXiv:2407.06654, public
  * literature): instead of REMOVING near-duplicate or boilerplate-heavy
  * documents, every document gets a sampling WEIGHT that shrinks with how
  * common its n-grams are across the corpus. Hard dedup (the
  * [[graft.dedup]] family) is a 0/1 special case; soft weights keep the
  * long tail of partially-duplicated pages in the mixture at reduced
  * rate, which the paper shows trains faster at equal loss.
  *
  * Definitions (per document d, over its DISTINCT word n-grams g —
  * document-frequency semantics, the `decontaminate_frac` convention):
  *   - df(g)           = number of documents containing g
  *   - commonness(d)   = mean over g of ln df(g)      (0 for all-unique)
  *   - sd_weight(d)    = exp(-lambda * commonness(d)) = geomean(df)^-lambda
  * A fully unique document weighs 1.0; a document whose every 3-gram
  * appears in ~150 documents weighs 150^-lambda. Documents with fewer
  * than n tokens carry no n-gram evidence and weigh 1.0.
  *
  * Tokenization is the corpus-stats family convention,
  * [[HashedEmbedder.tokens]]: per-codepoint simple lowercase, then
  * [[Words.words]]. Both modes run it through ONE typed kernel
  * ([[SoftDeduplicator.gramHashes]]) that emits distinct-gram xxhash64
  * keys directly, so gram strings never enter the plan: the column-HOF
  * formulation this replaced was interpreted (higher-order functions
  * don't codegen) and re-evaluated per row by the inferred
  * `size(grams) > 0` generate filter — 22.9 s → ~1 s at the sf0.1 gate.
  *
  * Two modes, one contract:
  *   - `exact`: distinct per-doc grams are hashed to 64-bit keys
  *     (xxhash64 — the [[LineDeduplicator]] narrow-shuffle convention;
  *     two grams colliding would merge their df counts, expected
  *     collisions ~G²/2⁶⁵ ≈ 27k false merges at a 10¹²-gram nameplate
  *     corpus, each perturbing one df by one doc count — negligible for
  *     a reweighting signal, and the grams themselves never ride the
  *     shuffle). Plan: row-local kernel (no distinct shuffle) →
  *     hash-aggregate df per key (map-side combine, 8-byte keys) → one
  *     join back on the key → per-doc stats. The per-doc log-sum folds
  *     over the SORTED df list (ascending), so commonness is
  *     bit-identical across partitionings and runs — float sums over
  *     shuffle arrival order would not be.
  *   - `sketch`: the 100 TB path. One pass builds a CountMinSketch
  *     (Cormode & Muthukrishnan 2005) of df over the same 64-bit keys
  *     (`DataFrameStatFunctions.countMinSketch` — treeAggregate of
  *     per-partition sketches, depth×width ints of driver/executor
  *     memory, no shuffle of gram keys at all); the weight pass is then
  *     MAP-ONLY against the broadcast sketch. CMS never underestimates,
  *     so sketch weights are ≤ exact weights (over-penalizing a few rare
  *     grams, never rescuing a common one) — the safe direction for a
  *     downweighting signal. Collision rate is governed by width: with
  *     depth 5, width 2²⁰, a gram's estimate is exact unless it collides
  *     in ALL 5 rows (p ≈ (G/width)⁵ per gram).
  *
  * Output columns: `sd_n_grams`, `sd_sum_df` (exact integers — the
  * hash-gate columns), `sd_commonness`, `sd_weight` (doubles; suite-
  * pinned, kept off the hash gate so no cross-engine float sum ordering
  * is ever compared).
  *
  * Reference analogue: none — the reference ships no corpus reweighting
  * operator; this extends the LLM-pipeline family the builder brief
  * mandates.
  */
class SoftDeduplicator(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("SoftDeduplicator"))

  final val idCol = new Param[String](this, "idCol", "document id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val n = new IntParam(this, "n", "word n-gram order",
    ParamValidators.gt(0))
  setDefault(n -> 3)
  def setN(v: Int): this.type = set(n, v)
  def getN: Int = $(n)
  final val lambda = new DoubleParam(this, "lambda",
    "downweighting sharpness (weight = geomean(df)^-lambda)",
    ParamValidators.gtEq(0.0))
  setDefault(lambda -> 1.0)
  def setLambda(v: Double): this.type = set(lambda, v)
  def getLambda: Double = $(lambda)
  final val mode = new Param[String](this, "mode",
    "df source: exact (hash-aggregate + join) | sketch (CMS, map-only)",
    ParamValidators.inArray(Array("exact", "sketch")))
  setDefault(mode -> "exact")
  def setMode(v: String): this.type = set(mode, v)
  def getMode: String = $(mode)
  final val sketchDepth = new IntParam(this, "sketchDepth",
    "CMS rows (sketch mode)", ParamValidators.gt(0))
  setDefault(sketchDepth -> 5)
  def setSketchDepth(v: Int): this.type = set(sketchDepth, v)
  final val sketchWidth = new IntParam(this, "sketchWidth",
    "CMS counters per row (sketch mode)", ParamValidators.gt(0))
  setDefault(sketchWidth -> (1 << 20))
  def setSketchWidth(v: Int): this.type = set(sketchWidth, v)
  final val seed = new IntParam(this, "seed", "CMS hash seed")
  setDefault(seed -> 42)
  def setSeed(v: Int): this.type = set(seed, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val order = $(n)
    // One-pass typed kernel (the GopherRepetition interned-kernel
    // precedent, round 13/15): tokenize → build → string-distinct →
    // hash, emitting ONLY the 8-byte keys into the plan. The previous
    // HOF formulation (filter/split/transform/array_distinct columns)
    // was interpreted (HigherOrderFunctions don't codegen) AND
    // re-evaluated up to four extra times per row by the
    // InferFiltersFromGenerate condition that predicate pushdown inlines
    // back through the projections — 22.9 s at the sf0.1 gate; the
    // kernel runs the text exactly once per evaluation site.
    val kernel = udf((text: String) =>
      SoftDeduplicator.gramHashes(text, order))
    $(mode) match {
      case "exact" =>
        val exploded = df
          .select(col($(idCol)).as("__sd_id"),
            kernel(col(getInputCol)).as("__sd_hs"))
          .select(col("__sd_id"), explode(col("__sd_hs")).as("__sd_h"))
        // df(g): grams are already distinct within each doc, so a plain
        // count per key IS the document frequency; map-side combine on
        // 8-byte keys
        val dfTable = exploded.groupBy("__sd_h")
          .agg(count(lit(1)).as("__sd_df"))
        val stats = exploded.join(dfTable, "__sd_h")
          .groupBy("__sd_id")
          .agg(count(lit(1)).as("sd_n_grams"),
            sum(col("__sd_df")).as("sd_sum_df"),
            // deterministic fold order: ascending df, row-local
            sort_array(collect_list(col("__sd_df"))).as("__sd_dfs"))
        val out = df.join(stats, col($(idCol)) === col("__sd_id"), "left")
          .drop("__sd_id")
        SoftDeduplicator.finishColumns(out, $(lambda))
      case "sketch" =>
        val spark = df.sparkSession
        val keyed = df
          .select(explode(kernel(col(getInputCol))).as("__sd_h"))
        val cms = keyed.stat.countMinSketch(col("__sd_h"),
          $(sketchDepth), $(sketchWidth), $(seed))
        val bc = spark.sparkContext.broadcast(cms)
        // map-only weight pass: per-row gram keys → sorted estimate
        // fold; the sketch is read-only on executors
        val statsUdf = udf((hs: Seq[Long]) => {
          val sk = bc.value
          val dfs = hs.map(h => sk.estimateCount(h)).sorted.toArray
          var sumDf = 0L
          var sumLog = 0.0
          var i = 0
          while (i < dfs.length) {
            sumDf += dfs(i); sumLog += math.log(dfs(i).toDouble); i += 1
          }
          (dfs.length.toLong, sumDf, sumLog)
        })
        val out = df.withColumn("__sd_st", statsUdf(kernel(col(getInputCol))))
          .withColumn("sd_n_grams", col("__sd_st._1"))
          .withColumn("sd_sum_df", col("__sd_st._2"))
          .withColumn("__sd_sumlog", col("__sd_st._3"))
          .drop("__sd_st")
        SoftDeduplicator.finishFromSumLog(out, $(lambda))
    }
  }

  override def transformSchema(schema: StructType): StructType = {
    val added = Seq("sd_n_grams", "sd_sum_df", "sd_commonness", "sd_weight")
    added.foreach(c => require(!schema.fieldNames.contains(c),
      s"SoftDeduplicator appends '$c' but the input already has it"))
    StructType(schema ++ Seq(
      StructField("sd_n_grams", LongType),
      StructField("sd_sum_df", LongType),
      StructField("sd_commonness", DoubleType),
      StructField("sd_weight", DoubleType)))
  }
  override def copy(extra: ParamMap): SoftDeduplicator = defaultCopy(extra)
}

object SoftDeduplicator extends graft.core.GraftReadable[SoftDeduplicator] {
  /** One-pass gram kernel: [[HashedEmbedder.tokens]] (simple
    * per-codepoint lowercase — matches engine `lower()` on the simple
    * mapping, round-15 advice — then [[Words.words]]) → word n-grams,
    * deduplicated BY STRING (the `array_distinct` semantics the oracle
    * replays; a 64-bit collision between two distinct grams in
    * one doc therefore still contributes two key rows, exactly like the
    * previous post-distinct `xxhash64` column) → xxhash64 keys, sorted
    * for a deterministic array. Null text and sub-n docs return an empty
    * array (no gram evidence → weight 1.0 downstream). */
  private[text] def gramHashes(text: String, n: Int): Array[Long] = {
    val words = HashedEmbedder.tokens(text)
    if (words.length < n) return Array.emptyLongArray
    val seen = new java.util.HashSet[String](words.length * 2)
    val out = new Array[Long](words.length - n + 1)
    var m = 0
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= words.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val g = sb.toString
      if (seen.add(g)) { out(m) = hash64(g); m += 1 }
      i += 1
    }
    val arr = java.util.Arrays.copyOf(out, m)
    java.util.Arrays.sort(arr)
    arr
  }

  /** xxhash64 of a UTF-8 string with Spark's column seed (42) — the same
    * value `xxhash64(col)` computes, so sketch build and sketch probe
    * agree bit-for-bit. */
  private[text] def hash64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** Shared tail for exact mode: docs with no grams (too short, null
    * text, or no stats row) weigh 1.0; the log-sum folds ascending. */
  private def finishColumns(df: DataFrame, lambda: Double): DataFrame = {
    val sumLog = aggregate(col("__sd_dfs"), lit(0.0),
      (acc, x) => acc + log(x.cast(DoubleType)))
    finishFromSumLog(
      df.withColumn("sd_n_grams", coalesce(col("sd_n_grams"), lit(0L)))
        .withColumn("sd_sum_df", coalesce(col("sd_sum_df"), lit(0L)))
        .withColumn("__sd_sumlog",
          when(col("__sd_dfs").isNull, lit(0.0)).otherwise(sumLog))
        .drop("__sd_dfs"),
      lambda)
  }

  private def finishFromSumLog(df: DataFrame, lambda: Double): DataFrame =
    df.withColumn("sd_commonness",
        when(col("sd_n_grams") > 0,
          col("__sd_sumlog") / col("sd_n_grams")).otherwise(lit(0.0)))
      .withColumn("sd_weight", exp(-lit(lambda) * col("sd_commonness")))
      .drop("__sd_sumlog")
}
