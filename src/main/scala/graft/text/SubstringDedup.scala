package graft.text

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact repeated-substring deduplication (the ExactSubstr method of
  * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  * Better", ACL — public literature): find every token span of at least
  * `minMatchTokens` tokens that occurs `minOccurrences`-or-more times
  * ANYWHERE in the corpus (across documents or repeated within one), and
  * remove every occurrence. The paper builds one suffix array over the
  * concatenated corpus — inherently single-machine; this is the
  * distributed reformulation:
  *
  *  1. every doc emits its k-token windows as 64-bit hashes
  *     (`xxhash64`, one narrow codegen'd projection + posexplode);
  *  2. ONE hash aggregation counts window occurrences (map-side
  *     combine; 8-byte keys) and keeps hashes with count >=
  *     `minOccurrences` — any longer repeated substring is a run of
  *     repeated k-windows, so k-window matching finds exactly the
  *     maximal spans the suffix array would;
  *  3. matched (doc, position) pairs shuffle back by the same 8-byte
  *     key (sort-merge join against the duplicated-hash set — the dup
  *     set is corpus-scale, deliberately NOT broadcast) and group per
  *     doc — at most one position per token, so per-group state is
  *     bounded by document length, never corpus size;
  *  4. a single linear two-pointer pass per doc merges overlapping
  *     windows into maximal spans and rebuilds the cleaned text.
  *
  * Shuffle ledger: windows exchange once for the count (8-byte keys,
  * partial-aggregated), matches exchange once for the join and once for
  * the per-doc group. Nothing is O(corpus^2); no driver state.
  *
  * Removal semantics: EVERY occurrence of a duplicated span is removed
  * (Lee et al. §4.1 measured that removing all copies vs keeping one is
  * indistinguishable downstream; remove-all is the deterministic,
  * order-free choice — keep-one would need a global occurrence order).
  *
  * Hashing: with W corpus windows the expected number of false
  * 64-bit-collision dup marks is ~W^2/2^64 — at 10^12 windows (100 TB)
  * about 5e-8 of windows, documented rather than "verified away": an
  * exact-text verify would shuffle the window TEXT (k tokens per
  * position, a corpus-size amplification) for a one-in-20-million
  * correction. The DuckDB oracle replays with exact window text, so the
  * gate would catch any collision at test scale.
  *
  * Tokenization: [[Words.words]], null text as none (the finishing UDF
  * never sees null) — exact bytes, no lowercasing (this is EXACT dedup;
  * near-dup canonicalization lives in
  * [[graft.dedup.DedupFunctions.canonical]]). The cleaned text is the
  * kept tokens re-joined with single spaces, so untouched documents come
  * back whitespace-normalized — stated contract, same as the oracle.
  *
  * Outputs: `es_n_tokens`, `es_n_windows`, `es_n_dup_windows`,
  * `es_n_spans` (maximal merged spans; touching spans merge),
  * `es_n_dup_tokens`, `es_dup_frac_q4` (= floor(dup/tokens*1e4+0.5)),
  * `es_text` (cleaned).
  */
class ExactSubstringDeduplicator(override val uid: String)
    extends Transformer with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("ExactSubstringDeduplicator"))

  final val idCol = new Param[String](this, "idCol",
    "unique document id column (join key for the match-positions group)")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)

  final val minMatchTokens = new IntParam(this, "minMatchTokens",
    "window length k: spans of >= k tokens repeated in the corpus are " +
      "removed (Lee et al. use 50 BPE tokens)", ParamValidators.gt(1))
  setDefault(minMatchTokens -> 50)
  def setMinMatchTokens(v: Int): this.type = set(minMatchTokens, v)

  final val minOccurrences = new IntParam(this, "minOccurrences",
    "corpus-wide occurrence threshold for a window to count as duplicated",
    ParamValidators.gt(1))
  setDefault(minOccurrences -> 2)
  def setMinOccurrences(v: Int): this.type = set(minOccurrences, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val k = $(minMatchTokens)
    val id = $(idCol)
    require(df.columns.contains(id), s"idCol '$id' not in input")

    // materialize the token array FIRST: an attribute reference inside
    // the per-window lambda is an O(1) field read, while the split
    // EXPRESSION would re-tokenize the whole document once per window
    // (the round-11 wordNGrams lesson — O(len²) per doc)
    val tokCol = graft.core.DatasetExtensions.findUnusedColumnName("__esd_toks", df)
    val toks = col(tokCol)
    val dfT = df.withColumn(tokCol,
      Words.words(coalesce(col(getInputCol), lit(""))))
    // (id, window start 0-based, 64-bit window hash); docs shorter than
    // k emit nothing (sequence() would count DOWN for a negative span —
    // guard with `when`, the wordNGrams precedent). INDEX explode with
    // the hash built post-explode — a hash-array generator child would
    // have its full transform re-run at the scan by the optimizer's
    // inferred size()>0 filter (the explodeNGrams rationale, O(len²)
    // per doc)
    val wins = dfT
      .select(col(id).as("__esd_id"), toks)
      .select(col("__esd_id"),
        explode(when(size(toks) >= k, sequence(lit(1), size(toks) - (k - 1)))
          .otherwise(array().cast(ArrayType(IntegerType)))).as("__esd_i"),
        toks)
      .select(col("__esd_id"), (col("__esd_i") - 1).as("__esd_pos"),
        xxhash64(array_join(slice(toks, col("__esd_i"), lit(k)), " "))
          .as("__esd_h"))

    val dup = wins.groupBy("__esd_h")
      .agg(count(lit(1)).as("__esd_c"))
      .where(col("__esd_c") >= $(minOccurrences))
      .select("__esd_h")

    val matches = wins.join(dup, "__esd_h")
      .groupBy("__esd_id")
      .agg(sort_array(collect_list(col("__esd_pos"))).as("__esd_starts"))

    val finish = ExactSubstringDeduplicator.finishUdf(k)
    dfT.join(matches, dfT(id) === matches("__esd_id"), "left")
      .drop("__esd_id")
      .withColumn("__esd", finish(toks,
        coalesce(col("__esd_starts"), array().cast(ArrayType(IntegerType)))))
      .drop("__esd_starts")
      .drop(tokCol)
      .withColumn("es_n_tokens", col("__esd._1"))
      .withColumn("es_n_windows", col("__esd._2"))
      .withColumn("es_n_dup_windows", col("__esd._3"))
      .withColumn("es_n_spans", col("__esd._4"))
      .withColumn("es_n_dup_tokens", col("__esd._5"))
      .withColumn("es_dup_frac_q4", col("__esd._6"))
      .withColumn("es_text", col("__esd._7"))
      .drop("__esd")
  }

  override def transformSchema(schema: StructType): StructType =
    StructType(schema ++ Seq(
      StructField("es_n_tokens", LongType),
      StructField("es_n_windows", LongType),
      StructField("es_n_dup_windows", LongType),
      StructField("es_n_spans", LongType),
      StructField("es_n_dup_tokens", LongType),
      StructField("es_dup_frac_q4", LongType),
      StructField("es_text", StringType)))

  override def copy(extra: ParamMap): ExactSubstringDeduplicator =
    defaultCopy(extra)
}

object ExactSubstringDeduplicator
    extends graft.core.GraftReadable[ExactSubstringDeduplicator] {

  /** Per-doc finishing pass: merge sorted match starts into maximal
    * spans ([s, s+k) windows; touching or overlapping spans coalesce)
    * and rebuild the cleaned text — a linear two-pointer walk, O(tokens
    * + matches) per document, vs the O(tokens x matches) an
    * exists()-per-token expression would cost on dup-dense docs.
    * Returns (n_tokens, n_windows, n_dup_windows, n_spans,
    * n_dup_tokens, dup_frac_q4, cleaned_text).
    */
  private[text] def finishUdf(k: Int) =
    udf { (toks: Seq[String], starts: Seq[Int]) =>
      val n = toks.length
      val nWin = math.max(n - k + 1, 0)
      var spans = 0L
      var dupTokens = 0L
      // pass 1: merged-span statistics
      var end = -1 // exclusive end of the current merged span, -1 = none
      starts.foreach { s =>
        if (s > end) { spans += 1; dupTokens += k }
        else dupTokens += (s + k) - end
        end = s + k
      }
      // pass 2: kept tokens via the same two-pointer walk
      val sb = new StringBuilder
      var si = 0
      var coveredUntil = -1
      var i = 0
      while (i < n) {
        while (si < starts.length && starts(si) <= i) {
          val e = starts(si) + k
          if (e > coveredUntil) coveredUntil = e
          si += 1
        }
        if (i >= coveredUntil) {
          if (sb.nonEmpty) sb.append(' ')
          sb.append(toks(i))
        }
        i += 1
      }
      val frac =
        if (n > 0) math.floor(dupTokens.toDouble / n.toDouble * 10000.0 + 0.5).toLong
        else 0L
      (n.toLong, nWin.toLong, starts.length.toLong, spans, dupTokens,
        frac, sb.toString)
    }
}
