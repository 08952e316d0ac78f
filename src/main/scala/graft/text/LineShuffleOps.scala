package graft.text

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Line-level deduplication (public practice: CCNet's paragraph dedup —
  * Wenzek et al. 2020 §3.1 — and RefinedWeb's line-wise filtering,
  * Penedo et al. 2023): lines whose TRIMMED text repeats
  * `minOccurrences`-or-more times anywhere in the corpus are removed
  * from every document — the standard kill for boilerplate (nav bars,
  * cookie banners, footers) that survives document-level dedup because
  * the surrounding page differs.
  *
  * Scale shape (the [[ExactSubstringDeduplicator]] skeleton at line
  * granularity): lines exchange once as 64-bit hashes for the occurrence
  * count (map-side combine, 8-byte keys), matched (doc, position) pairs
  * shuffle back by the same key, and one per-doc group (bounded by lines
  * per doc) rebuilds the cleaned text. Nothing is O(corpus^2); no driver
  * state. A 64-bit hash collision can only FALSELY REMOVE a line
  * (~W^2/2^64 expected over W corpus lines); the driver oracle replays
  * with exact line text, so the gate catches any collision at test scale.
  * AT NAMEPLATE that bound is no longer negligible corpus-wide: a 100 TB
  * crawl holds ~10^12 lines, so W^2/2^64 ~ 5*10^4 expected
  * falsely-removed lines. Harmless for boilerplate cleanup, and
  * `scopeCol` collapses W to per-site counts (the recommended mode) —
  * but when every line matters corpus-wide, set `use128BitKeys`: the
  * count key becomes the exact-dedup family's independently-seeded
  * 128-bit fingerprint pair ([[graft.dedup.ExactDeduplicator]]'s
  * convention), dropping expected false removals to ~10^-14 at the
  * same W for 8 extra bytes per key on the two narrow shuffles.
  *
  * Contract: lines are `delimiter`-split then trimmed; empty-after-trim
  * lines are dropped; `ld_text` re-joins the kept trimmed lines with
  * `delimiter` (whitespace-per-line normalized output, same convention
  * as [[ExactSubstringDeduplicator]]'s). Outputs: `ld_n_lines`,
  * `ld_n_dup_lines`, `ld_text`.
  */
class LineDeduplicator(override val uid: String)
    extends Transformer with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("LineDeduplicator"))

  final val idCol = new Param[String](this, "idCol",
    "unique document id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)

  final val delimiter = new Param[String](this, "delimiter",
    "line separator (split regex and re-join literal)")
  setDefault(delimiter -> "\n")
  def setDelimiter(v: String): this.type = set(delimiter, v)

  final val minOccurrences = new IntParam(this, "minOccurrences",
    "occurrence threshold for a line to count as boilerplate",
    ParamValidators.gt(1))
  setDefault(minOccurrences -> 2)
  def setMinOccurrences(v: Int): this.type = set(minOccurrences, v)

  /** Boilerplate is usually SITE-scoped (a nav bar repeats within one
    * site, not across the web): with `scopeCol` set (e.g. the
    * [[UrlFilter.registeredDomain]] column), occurrences are counted
    * within each scope value and a line is only removed from documents
    * of scopes where it crosses the threshold — a common sentence
    * shared by unrelated sites survives. Empty (default) = corpus-wide,
    * the CCNet shard convention. Null scopes group with the empty
    * string. Same shuffle volume either way (the count key gains the
    * scope). */
  final val scopeCol = new Param[String](this, "scopeCol",
    "optional scope column: count occurrences per scope value instead " +
      "of corpus-wide ('' = corpus-wide)")
  setDefault(scopeCol -> "")
  def setScopeCol(v: String): this.type = set(scopeCol, v)

  /** Document-frequency counting (the CCNet/Dolma convention): each
    * document contributes at most ONE occurrence per distinct line, so
    * a line repeated inside a single page does not reach the threshold
    * by itself ([[WithinDocLineDeduplicator]] owns the in-page case).
    * Default false preserves the raw-occurrence semantics. */
  final val countDocsOnce = new BooleanParam(this, "countDocsOnce",
    "count each document once per distinct line (document frequency) " +
      "instead of raw occurrences")
  setDefault(countDocsOnce -> false)
  def setCountDocsOnce(v: Boolean): this.type = set(countDocsOnce, v)

  /** 128-bit occurrence keys (the class scaladoc's nameplate analysis):
    * two independently seeded xxhash64 of the trimmed line, the
    * [[graft.dedup.ExactDeduplicator]] fingerprint-pair convention. */
  final val use128BitKeys = new BooleanParam(this, "use128BitKeys",
    "key occurrence counting on a 128-bit fingerprint pair instead of " +
      "one 64-bit hash (for corpus-wide dedup at 10^12-line scale)")
  setDefault(use128BitKeys -> false)
  def setUse128BitKeys(v: Boolean): this.type = set(use128BitKeys, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val id = $(idCol)
    require(df.columns.contains(id), s"idCol '$id' not in input")
    require($(scopeCol).isEmpty || df.columns.contains($(scopeCol)),
      s"scopeCol '${$(scopeCol)}' not in input")
    val lines = filter(
      org.apache.spark.sql.functions.transform(
        split(coalesce(col(getInputCol), lit("")), $(delimiter)),
        l => trim(l)),
      l => length(l) > 0)

    val scope =
      if ($(scopeCol).isEmpty) lit("")
      else coalesce(col($(scopeCol)).cast("string"), lit(""))
    // key columns: one 64-bit hash, or the seeded pair when the caller
    // opted into nameplate-exact keys (see the class scaladoc)
    val (h, h2) = graft.dedup.DedupFunctions.fingerprintPair(col("__ld_line"))
    val hashCols =
      if ($(use128BitKeys)) Seq(h.as("__ld_h"), h2.as("__ld_h2"))
      else Seq(h.as("__ld_h"))
    val keyNames = "__ld_s" +: hashCols.indices
      .map(i => if (i == 0) "__ld_h" else "__ld_h2")
    val exploded = df
      .select(col(id).as("__ld_id"), scope.as("__ld_s"), posexplode(lines))
      .toDF("__ld_id", "__ld_s", "__ld_pos", "__ld_line")
      .select(Seq(col("__ld_id"), col("__ld_s"), col("__ld_pos")) ++
        hashCols: _*)
    val occ =
      if ($(countDocsOnce)) countDistinct(col("__ld_id"))
      else count(lit(1))
    val dup = exploded.groupBy(keyNames.map(col): _*)
      .agg(occ.as("__ld_c"))
      .where(col("__ld_c") >= $(minOccurrences))
      .select(keyNames.map(col): _*)
    val matches = exploded.join(dup, keyNames)
      .groupBy("__ld_id")
      .agg(collect_list(col("__ld_pos")).as("__ld_dup"))

    df.join(matches, df(id) === matches("__ld_id"), "left")
      .drop("__ld_id")
      .withColumn("__ld_dup",
        coalesce(col("__ld_dup"), array().cast(ArrayType(IntegerType))))
      .withColumn("__ld_lines", lines)
      .withColumn("ld_n_lines", size(col("__ld_lines")).cast(LongType))
      .withColumn("ld_n_dup_lines", size(col("__ld_dup")).cast(LongType))
      .withColumn("ld_text",
        array_join(filter(col("__ld_lines"),
          (_, i) => !array_contains(col("__ld_dup"), i)), $(delimiter)))
      .drop("__ld_dup", "__ld_lines")
  }

  override def transformSchema(schema: StructType): StructType =
    StructType(schema ++ Seq(
      StructField("ld_n_lines", LongType),
      StructField("ld_n_dup_lines", LongType),
      StructField("ld_text", StringType)))
  override def copy(extra: ParamMap): LineDeduplicator = defaultCopy(extra)
}
object LineDeduplicator extends graft.core.GraftReadable[LineDeduplicator]

/** WITHIN-document repeated-line removal: each document keeps only the
  * first occurrence of every line (exact match, order preserved) — the
  * cheap in-page half of line-level boilerplate cleanup
  * ([[LineDeduplicator]] handles the corpus-wide half), catching menu
  * blocks and footers a scraper pasted repeatedly into one page.
  *
  * Pure narrow projection: `array_distinct` over the split lines is
  * order-preserving (first occurrence wins) and codegen'd — no shuffle,
  * no state, embarrassingly parallel at any corpus size.
  */
class WithinDocLineDeduplicator(override val uid: String)
    extends Transformer with HasInputCol with HasOutputCol
    with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("WithinDocLineDedup"))
  setDefault(outputCol -> "dedup_text")

  final val delimiter = new Param[String](this, "delimiter",
    "line separator (literal)")
  setDefault(delimiter -> "\n")
  def setDelimiter(v: String): this.type = set(delimiter, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    require(!df.columns.contains($(outputCol)),
      s"input already has a column named '${$(outputCol)}'")
    val d = java.util.regex.Pattern.quote($(delimiter))
    df.withColumn($(outputCol),
      array_join(array_distinct(split(col(getInputCol), d)), $(delimiter)))
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(schema :+ StructField($(outputCol), StringType))
  override def copy(extra: ParamMap): WithinDocLineDeduplicator =
    defaultCopy(extra)
}
object WithinDocLineDeduplicator
    extends graft.core.GraftReadable[WithinDocLineDeduplicator]

/** Deterministic global corpus shuffle — the training-order shuffle every
  * pre-training pipeline runs last (public practice: fixed-seed document
  * shuffles in the GPT/LLaMA data recipes): every row gets a dense
  * 0-based `shuffle_pos` in the order of `md5(id || ':' || seed)`
  * (ties broken by id), so the order is reproducible across runs,
  * cluster sizes, and partitionings.
  *
  * Scale shape (the [[ConcatChunker]] narrow-sort pattern): only
  * (hashKey, id) rows ride the global range sort — the document payload
  * never enters it (an earlier draft sorted full rows; at 100 TB that
  * ships every text byte through a range exchange whose sort buys
  * nothing the id column doesn't). Spark's zipWithIndex offset job (a
  * per-partition count — O(partitions) driver state, the canonical
  * global-index construction) assigns the dense position on the narrow
  * frame, and the payload hash-joins `outputCol` back by id — one hash
  * exchange of the corpus with no sort buffers. md5 rather than
  * xxhash64 because the shuffle key is part of the public contract: any
  * engine (the DuckDB oracle included) can reproduce the exact order.
  */
class CorpusShuffler(override val uid: String)
    extends Transformer with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("CorpusShuffler"))

  final val idCol = new Param[String](this, "idCol",
    "unique row id column (shuffle-key input + tie-break). The position " +
      "join-back is an inner equi-join on this column: a NULL id fails " +
      "the transform loudly (positions are assigned to every input row, " +
      "so a dropped row would silently shrink the corpus), and ids MUST " +
      "be unique — duplicates would fan out multiplicatively through " +
      "the join (dedup upstream; every curation recipe does)")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)

  final val seed = new Param[String](this, "seed",
    "shuffle seed, appended to the id before hashing")
  setDefault(seed -> "42")
  def setSeed(v: String): this.type = set(seed, v)

  final val outputCol = new Param[String](this, "outputCol",
    "global position column")
  setDefault(outputCol -> "shuffle_pos")
  def setOutputCol(v: String): this.type = set(outputCol, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    require(!df.columns.contains($(outputCol)),
      s"input already has a column named '${$(outputCol)}'")
    val tmpId = graft.core.DatasetExtensions
      .findUnusedColumnName("__cs_id", df)
    val idName = $(idCol)
    // narrow ordering pass: (id) only — the 16-byte hash key plus the id
    // through the range sort, never the row payload
    val sorted = df
      .select(col(idName).as(tmpId))
      .orderBy(
        md5(concat(col(tmpId).cast(StringType), lit(":"), lit($(seed)))),
        col(tmpId))
    val posSchema = StructType(Seq(
      sorted.schema.head.copy(name = tmpId),
      StructField($(outputCol), LongType, nullable = false)))
    val posFrame = df.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) =>
        // fail loudly inside the pass that is already running: a NULL id
        // can never equi-join its position back, so the row would
        // silently vanish from the shuffled corpus
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          s"CorpusShuffler: NULL $idName at shuffle position $i " +
            "(ids must be non-null and unique)")
        Row(r.get(0), i)
      },
      posSchema)
    // payload picks up its position through one hash exchange by id
    df.join(posFrame, df(idName) === posFrame(tmpId))
      .drop(tmpId)
  }

  override def transformSchema(schema: StructType): StructType =
    StructType(schema :+ StructField($(outputCol), LongType, false))
  override def copy(extra: ParamMap): CorpusShuffler = defaultCopy(extra)
}
object CorpusShuffler extends graft.core.GraftReadable[CorpusShuffler]
