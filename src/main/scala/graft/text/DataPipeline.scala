package graft.text

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data-pipeline operators beyond the reference's surface (see
  * builder brief): benchmark decontamination, PII redaction, Gopher-style
  * repetition signals, and deterministic domain-mixture sampling. All four
  * are narrow column expressions or broadcast-semi-joins — the shapes that
  * survive a 100 TB corpus — and every fractional output is emitted as a
  * scaled integer (floor(x*1e4+0.5)) computed in a fixed operation order
  * so the DuckDB oracle reproduces it bit-exactly (doc_stats precedent).
  */
object PipelineFunctions {

  /** Space-joined word n-grams of a token-array column. Docs shorter than
    * n yield an empty array (guarded: Spark's `sequence(1, k)` with k < 1
    * would generate a DESCENDING sequence, not an empty one).
    *
    * PERFORMANCE CONTRACT: `words` must be a MATERIALIZED column (an
    * attribute reference — `withColumn` the token array first), not the
    * tokenizer expression itself. The per-position lambda embeds any
    * outer non-attribute expression and re-evaluates it per n-gram, so a
    * `split(...)` argument re-tokenizes the whole document once per
    * position — measured O(len²): a 10x corpus cost sb_perplexity 113 s
    * until every call site was materialized (round 11).
    *
    * Do NOT `explode` this column's expression directly — the
    * optimizer's inferred generator filter re-runs the transform at the
    * scan even over a materialized token column (round 12); use
    * [[explodeNGrams]] for one-row-per-gram shapes. This array form is
    * for per-doc array consumers (e.g. overlapProfile's distinct-gram
    * counts).
    */
  def wordNGrams(words: Column, n: Int): Column = {
    require(n >= 1, "n-gram size must be >= 1")
    when(size(words) >= n,
      transform(sequence(lit(1), size(words) - (n - 1)),
        i => array_join(slice(words, i, lit(n)), " ")))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** One row per word n-gram of a MATERIALIZED token column, via INDEX
    * explode: the generator child is the window-index `sequence`, never
    * the gram array. Why it matters: `InferFiltersFromGenerate`
    * synthesizes a `size(child) > 0` filter below every explode, and
    * predicate pushdown rewrites it through the projections — for a
    * gram-array child that filter arrives at the scan with the token
    * SPLIT inlined back inside the per-window lambda, re-running the
    * O(len²) transform once per row purely to test non-emptiness (found
    * round 12: the decontaminate gate spent 6 of its 7 s inside that
    * inferred filter; every explode-a-[[wordNGrams]]-column site paid
    * it). With the index sequence as the child, the inferred filter
    * costs O(len) and the gram strings are built once, post-explode,
    * from attribute references. Appends `out`; other columns pass
    * through unchanged.
    */
  def explodeNGrams(df: DataFrame, toks: Column, n: Int, out: String): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    val pos = graft.core.DatasetExtensions.findUnusedColumnName("__png_i", df)
    val idx = when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast(ArrayType(IntegerType)))
    df.withColumn(pos, explode(idx))
      .withColumn(out,
        if (n == 1) element_at(toks, col(pos))
        else array_join(slice(toks, col(pos), lit(n)), " "))
      .drop(pos)
  }

  /** Scaled fraction: floor(num/den * 1e4 + 0.5) as BIGINT, 0 when den=0.
    * Fixed operation order (divide, scale, shift, floor) — both engines
    * produce the identical IEEE double, so the integer is hash-gate-safe.
    */
  def q4(num: Column, den: Column): Column =
    when(den > 0,
      floor(num.cast("double") / den.cast("double") * 10000.0 + 0.5)
        .cast("long"))
      .otherwise(lit(0L))
}

/** Benchmark decontamination: flag (or drop) corpus documents that share
  * any word n-gram with a benchmark/eval set — the standard guard against
  * test-set leakage into pre-training data (public practice, e.g. the
  * GPT-3/PaLM appendix n-gram-overlap procedures).
  *
  * Scale shape: the benchmark side is distinct-hashed (64-bit xxhash per
  * n-gram, 8 bytes each) and broadcast by default — eval benchmarks are
  * MBs, corpora are TBs, so the exploded corpus grams never shuffle: each
  * partition streams through a broadcast semi-join and only the matching
  * doc ids (a tiny set) reach an exchange for the final distinct.
  */
object Decontamination {

  /** n-gram column added over a MATERIALIZED token column (wordNGrams
    * performance contract: an expression argument re-tokenizes per gram
    * position). Tokens keep the empty token ([[Words.tokens]]), as the
    * oracle's do. */
  private def withGrams(df: DataFrame, textCol: String, n: Int,
      out: String): DataFrame =
    df.withColumn("__dc_toks", Words.tokens(col(textCol)))
      .withColumn(out, PipelineFunctions.wordNGrams(col("__dc_toks"), n))
      .drop("__dc_toks")

  /** Exploded 64-bit gram hashes (`__gh`) plus `keep` columns — the
    * [[PipelineFunctions.explodeNGrams]] index-explode shape, so the
    * optimizer's inferred generator filter never re-runs the gram
    * transform at the scan. Tokens as in [[withGrams]]. */
  private def explodedGramHashes(df: DataFrame, textCol: String, n: Int,
      keep: Seq[String]): DataFrame =
    PipelineFunctions.explodeNGrams(
        df.withColumn("__dc_toks", Words.tokens(col(textCol))),
        col("__dc_toks"), n, "__dc_g")
      .select(keep.map(col) :+ xxhash64(col("__dc_g")).as("__gh"): _*)

  /** Distinct ids of corpus docs sharing >=1 word n-gram with `benchmark`.
    * Gram identity is by 64-bit hash: a collision can only add a false
    * positive with probability ~|grams|^2/2^64 (the exact-dedup 128-bit
    * argument, weaker need here since a flag — not a merge — is at stake).
    */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 4,
      broadcastBenchmark: Boolean = true): DataFrame = {
    val bench0 = explodedGramHashes(benchmark, textCol, n, Nil).distinct()
    val bench = if (broadcastBenchmark) broadcast(bench0) else bench0
    explodedGramHashes(corpus, textCol, n, Seq(idCol))
      .join(bench, Seq("__gh"), "left_semi")
      .select(idCol).distinct()
  }

  /** Corpus with an `is_contaminated` int column (1 = shares an n-gram).
    * The contaminated-id side is corpus-dependent but small (ids only);
    * AQE picks the join strategy at runtime.
    */
  def flag(corpus: DataFrame, benchmark: DataFrame, textCol: String,
      idCol: String, n: Int = 4, broadcastBenchmark: Boolean = true): DataFrame = {
    val ids = contaminatedIds(corpus, benchmark, textCol, idCol, n,
      broadcastBenchmark).withColumn("__cont", lit(1))
    corpus.join(ids, Seq(idCol), "left")
      .withColumn("is_contaminated", coalesce(col("__cont"), lit(0)))
      .drop("__cont")
  }

  /** Corpus minus contaminated docs (anti-join on the flagged ids). */
  def clean(corpus: DataFrame, benchmark: DataFrame, textCol: String,
      idCol: String, n: Int = 4, broadcastBenchmark: Boolean = true): DataFrame =
    corpus.join(
      contaminatedIds(corpus, benchmark, textCol, idCol, n, broadcastBenchmark),
      Seq(idCol), "left_anti")

  /** Per-document contamination PROFILE — where [[flag]] answers "does
    * this doc share ANY n-gram with the benchmark", this grades HOW MUCH:
    * distinct n-grams, distinct n-grams also in the benchmark, and the
    * q4-scaled overlap fraction — the form needed to set a defensible
    * drop threshold (the flag is the fraction > 0 special case); grams
    * over [[Words.tokens]], empty token included, as in [[flag]].
    *
    * Scale shape: the benchmark's distinct grams are collected once
    * (bounded by `maxBenchmarkGrams` — eval benchmarks are MBs; the
    * bound fails fast with the knob named) and broadcast as a string
    * set; the corpus side is then a single NARROW projection — each
    * doc's distinct grams are counted against the broadcast set per
    * partition. Nothing about the corpus enters an exchange: strictly
    * cheaper than [[flag]]'s id-distinct at 100 TB.
    */
  def overlapProfile(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 4,
      maxBenchmarkGrams: Long = 50L * 1000 * 1000): DataFrame = {
    val benchRows = PipelineFunctions.explodeNGrams(
        benchmark.withColumn("__dc_toks", Words.tokens(col(textCol))),
        col("__dc_toks"), n, "__g")
      .select(col("__g")).distinct()
    val cnt = benchRows.count()
    require(cnt <= maxBenchmarkGrams,
      s"benchmark has $cnt distinct $n-grams > maxBenchmarkGrams=" +
        s"$maxBenchmarkGrams — raise the bound only if the driver and " +
        "executors can hold the broadcast")
    val bc = corpus.sparkSession.sparkContext.broadcast(
      benchRows.collect().map(_.getString(0)).toSet)
    val hits = udf { gs: Seq[String] =>
      val set = bc.value
      var hit = 0L
      gs.foreach(g => if (set.contains(g)) hit += 1)
      hit
    }
    withGrams(corpus, textCol, n, "__gs")
      .withColumn("__dg", array_distinct(col("__gs")))
      .withColumn("n_grams", size(col("__dg")).cast("long"))
      .withColumn("n_hit", hits(col("__dg")))
      .withColumn("overlap_q4",
        PipelineFunctions.q4(col("n_hit"), col("n_grams")))
      .drop("__gs", "__dg")
  }
}

/** Regex PII redaction: rewrites emails, SSN-shaped, phone-shaped and
  * IPv4-shaped spans to placeholder tokens. Patterns use only literal
  * character classes and bounded greedy quantifiers — constructs whose
  * match semantics agree between Java's regex (Spark codegen) and RE2
  * (DuckDB/Go), so the oracle reproduces the output byte-for-byte.
  * Application order is fixed (email, ssn, phone, ipv4): email first so
  * its dotted host can't be half-eaten by the IPv4 rule, SSN's 3-2-4
  * shape before phone's 3-3-4. The whole chain is consecutive
  * `regexp_replace` calls — one codegen'd projection, no shuffle.
  */
class PIIRedactor(override val uid: String) extends Transformer
    with HasInputCol with HasOutputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("PIIRedactor"))
  setDefault(outputCol -> "redacted")

  final val kinds = new StringArrayParam(this, "kinds",
    "ordered subset of builtin pattern names to apply",
    (v: Array[String]) => v.forall(PIIRedactor.Builtin.contains))
  setDefault(kinds -> PIIRedactor.Order.toArray)
  def setKinds(v: Seq[String]): this.type = set(kinds, v.toArray)

  override def transform(ds: Dataset[_]): DataFrame = {
    val out = $(kinds).foldLeft(col(getInputCol)) { (c, k) =>
      val (pattern, token) = PIIRedactor.Builtin(k)
      regexp_replace(c, pattern, token)
    }
    ds.toDF().withColumn(getOutputCol, out)
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(schema :+ StructField(getOutputCol, StringType, true))
  override def copy(extra: ParamMap): PIIRedactor = defaultCopy(extra)
}
object PIIRedactor extends graft.core.GraftReadable[PIIRedactor] {
  /** name -> (pattern, replacement token). */
  val Builtin: Map[String, (String, String)] = Map(
    "email" -> ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    "ssn" -> ("[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    "phone" -> ("[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}", "<PHONE>"),
    "ipv4" -> ("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"))
  val Order: Seq[String] = Seq("email", "ssn", "phone", "ipv4")
}

/** Gopher-style repetition quality signals (Rae et al. 2021 §A1.1, public):
  * duplicate-word fraction, duplicate-2-gram fraction, and the top
  * 2-gram's count/fraction. Everything is computed per-row from native
  * array expressions — the duplicate/top statistics come from ONE
  * `aggregate` pass over the sorted 2-gram array (run-length scan,
  * O(g log g) for the sort) — so the whole profile is a narrow projection:
  * no explode, no groupBy, nothing leaves the partition. At 100 TB that is
  * the difference between a map-only scan and a corpus-wide shuffle of
  * every n-gram. Words keep the empty token ([[Words.tokens]]), as the
  * oracle's do.
  */
class RepetitionProfiler(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("RepetitionProfiler"))

  override def transform(ds: Dataset[_]): DataFrame = {
    // words/g2 MATERIALIZED before the scan: g2 is referenced inside the
    // aggregate lambda (element_at per step) — as a raw expression the
    // whole sort-the-ngrams subtree would re-run per step, O(len³)
    val prepped = ds.toDF()
      .withColumn("__words", Words.tokens(col(getInputCol)))
      .withColumn("__g2",
        array_sort(PipelineFunctions.wordNGrams(col("__words"), 2)))
    val words = col("__words")
    val nW = size(words)
    val g2 = col("__g2")
    val n2 = size(g2)
    // single-pass run-length scan of the sorted grams: `run` = current
    // equal-run length, `dup` = occurrences closed out in runs of len>1,
    // `top` = longest run seen. The finish step closes the last run.
    def closed(acc: Column): Column =
      acc.getField("dup") +
        when(acc.getField("run") > 1, acc.getField("run")).otherwise(0)
    val rep = when(n2 >= 2,
      aggregate(
        sequence(lit(2), n2),
        struct(lit(1).as("run"), lit(0).as("dup"), lit(1).as("top")),
        (acc, i) =>
          when(element_at(g2, i) === element_at(g2, i - 1),
            struct((acc.getField("run") + 1).as("run"),
              acc.getField("dup").as("dup"),
              greatest(acc.getField("top"), acc.getField("run") + 1).as("top")))
            .otherwise(struct(lit(1).as("run"), closed(acc).as("dup"),
              acc.getField("top").as("top"))),
        acc => struct(closed(acc).as("dup"), acc.getField("top").as("top"))))
      .otherwise(struct(lit(0).as("dup"), greatest(n2, lit(0)).as("top")))
    prepped
      .withColumn("__rep", rep)
      .withColumn("n_words", nW.cast("long"))
      .withColumn("dup_word_q4",
        PipelineFunctions.q4(nW - size(array_distinct(words)), nW))
      .withColumn("top_2gram_count", col("__rep").getField("top").cast("long"))
      .withColumn("top_2gram_q4",
        PipelineFunctions.q4(col("__rep").getField("top"), n2))
      .withColumn("dup_2gram_q4",
        PipelineFunctions.q4(col("__rep").getField("dup"), n2))
      .drop("__rep", "__words", "__g2")
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(schema ++ Seq(
      StructField("n_words", LongType),
      StructField("dup_word_q4", LongType),
      StructField("top_2gram_count", LongType),
      StructField("top_2gram_q4", LongType),
      StructField("dup_2gram_q4", LongType)))
  override def copy(extra: ParamMap): RepetitionProfiler = defaultCopy(extra)
}
object RepetitionProfiler extends graft.core.GraftReadable[RepetitionProfiler]

/** Deterministic domain-mixture sampler: keeps each row iff the first 8
  * hex chars of md5(id ":" salt) fall below the per-domain threshold
  * floor(weight * 16^8), encoded as a lowercase hex string so the
  * comparison is a plain string `<` — reproducible in ANY engine with md5
  * (no engine-specific hash needed), stable across runs and partitionings
  * (unlike `sample()`, whose output depends on the partition layout).
  * Narrow filter — no shuffle, no state; this is how a 100 TB corpus gets
  * re-weighted to a target domain mixture in one pass.
  */
class DomainMixtureSampler(override val uid: String) extends Transformer
    with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("DomainMixtureSampler"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val domainCol = new Param[String](this, "domainCol", "domain column")
  setDefault(domainCol -> "source")
  def setDomainCol(v: String): this.type = set(domainCol, v)
  final val weights = new Param[Map[String, Double]](this, "weights",
    "domain -> keep probability in [0,1]")
  setDefault(weights -> Map.empty[String, Double])
  def setWeights(m: Map[String, Double]): this.type = set(weights, m)
  final val defaultWeight = new DoubleParam(this, "defaultWeight",
    "keep probability for unlisted domains",
    ParamValidators.inRange(0.0, 1.0))
  setDefault(defaultWeight -> 1.0)
  def setDefaultWeight(v: Double): this.type = set(defaultWeight, v)
  final val salt = new Param[String](this, "salt",
    "hash salt — vary to draw an independent sample")
  setDefault(salt -> "mix")
  def setSalt(v: String): this.type = set(salt, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    val thrMap = $(weights).map { case (k, w) =>
      k -> DomainMixtureSampler.hexThreshold(w)
    }
    val default = lit(DomainMixtureSampler.hexThreshold($(defaultWeight)))
    val thr =
      if (thrMap.isEmpty) default
      else coalesce(element_at(typedLit(thrMap), col($(domainCol))), default)
    val key = substring(
      md5(concat(col($(idCol)).cast("string"), lit(":" + $(salt)))), 1, 8)
    ds.toDF().filter(key < thr)
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "domainCol" -> $(domainCol))
    schema
  }
  override def copy(extra: ParamMap): DomainMixtureSampler = defaultCopy(extra)
}
/** Temperature-scaled domain mixture (the multilingual-pretraining
  * standard: Arivazhagan et al. 2019 §4; mT5/XLM-R use the same rule):
  * sample domain d with probability p_d ∝ n_d^τ — τ < 1 flattens the
  * natural distribution, upweighting low-resource domains — realized as
  * per-domain keep rates r_d = min(1, f·N·p_d / n_d) so the expected
  * output is fraction `f` of the corpus with the temperature mixture.
  *
  * Fit-free composition over [[DomainMixtureSampler]]: one
  * map-side-combined domain count (bounded driver collect, guarded by
  * `maxDomains`), a closed-form rate per domain, then the same
  * deterministic md5-threshold filter — partitioning-independent,
  * narrow, and SQL-replayable end to end (the rate arithmetic is a
  * fixed operation order over exact counts).
  */
class TemperatureSampler(override val uid: String) extends Transformer
    with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("TemperatureSampler"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val domainCol = new Param[String](this, "domainCol", "domain column")
  setDefault(domainCol -> "source")
  def setDomainCol(v: String): this.type = set(domainCol, v)
  final val temperature = new DoubleParam(this, "temperature",
    "mixture temperature tau: p_d proportional to n_d^tau (1 = natural, " +
      "0 = uniform)", ParamValidators.inRange(0.0, 1.0))
  setDefault(temperature -> 0.7)
  def setTemperature(v: Double): this.type = set(temperature, v)
  final val targetFraction = new DoubleParam(this, "targetFraction",
    "expected kept fraction of the corpus", ParamValidators.inRange(0.0, 1.0))
  setDefault(targetFraction -> 0.5)
  def setTargetFraction(v: Double): this.type = set(targetFraction, v)
  final val salt = new Param[String](this, "salt",
    "hash salt — vary to draw an independent sample")
  setDefault(salt -> "tmix")
  def setSalt(v: String): this.type = set(salt, v)
  final val maxDomains = new IntParam(this, "maxDomains",
    "fail-fast cap on the domain-count collect", ParamValidators.gt(0))
  setDefault(maxDomains -> 100000)
  def setMaxDomains(v: Int): this.type = set(maxDomains, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    val df = ds.toDF()
    // domain histogram: map-side-combined, key space = #domains; the
    // collect is bounded by the fail-fast cap (limit cap+1, not count(),
    // so the guard costs no extra action)
    // +1 saturating at Int.MaxValue (UrlFilter.filterByDomainTable
    // convention): a literal cap+1 overflows the limit to a negative
    val fetch =
      if ($(maxDomains) == Int.MaxValue) $(maxDomains) else $(maxDomains) + 1
    val counts = df.groupBy(col($(domainCol)).cast("string").as("__d"))
      .agg(count(lit(1)).as("__n"))
      .orderBy(col("__d"))
      .limit(fetch)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(counts.length <= $(maxDomains),
      s"more than ${$(maxDomains)} distinct domains; raise maxDomains " +
        "only if the driver can hold the histogram")
    val tau = $(temperature)
    val f = $(targetFraction)
    val nTotal = counts.iterator.map(_._2).sum.toDouble
    // fixed summation order (domain asc, from the sorted collect) so the
    // oracle reproduces z bit-for-bit
    val powers = counts.map { case (_, n) => math.pow(n.toDouble, tau) }
    val z = powers.sum
    val rates = counts.iterator.zipWithIndex.map { case ((d, n), i) =>
      d -> math.min(1.0, f * nTotal * (powers(i) / z) / n.toDouble)
    }.toMap
    new DomainMixtureSampler().setIdCol($(idCol)).setDomainCol($(domainCol))
      .setWeights(rates).setDefaultWeight(0.0).setSalt($(salt))
      .transform(df)
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "domainCol" -> $(domainCol))
    schema
  }
  override def copy(extra: ParamMap): TemperatureSampler = defaultCopy(extra)
}
object TemperatureSampler
    extends graft.core.GraftReadable[TemperatureSampler]

/** Deterministic per-domain UPSAMPLING — the other half of mixture
  * control: public pre-training recipes REPEAT high-value domains while
  * web text is sampled down (GPT-3 Table 2.2 trains Wikipedia ~3.4
  * epochs and books ~1.9 against <1 for Common Crawl — public paper).
  * Repeat factor w per domain: every doc emits floor(w) copies, plus
  * one more iff md5(id:salt) < frac(w) in the
  * [[DomainMixtureSampler.hexThreshold]] convention — so the realized
  * factor converges to w per domain and the SAME (id, salt) always
  * draws the same copies: reproducible across runs, cluster sizes, and
  * partitionings, and nested in w (raising a weight only ADDS copies).
  * w <= 1 degenerates to [[DomainMixtureSampler]]'s keep rule (with
  * `epoch` = 0), so one operator expresses the whole mixture row of a
  * data card.
  *
  * Output appends `outputCol` (default `epoch`, 0-based copy index);
  * (id, epoch) is the composite key downstream — feed both to
  * [[CorpusShuffler]] (e.g. via a derived id) so copies of a document
  * land far apart in training order. Scale shape: one narrow
  * explode-of-a-sequence — no shuffle, no state, no skew sensitivity
  * beyond the output inflation itself (bounded by max(w)).
  */
class DomainUpsampler(override val uid: String) extends Transformer
    with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("DomainUpsampler"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val domainCol = new Param[String](this, "domainCol", "domain column")
  setDefault(domainCol -> "source")
  def setDomainCol(v: String): this.type = set(domainCol, v)
  final val weights = new Param[Map[String, Double]](this, "weights",
    "domain -> repeat factor >= 0 (2.5 = two copies always, a third " +
      "for a deterministic half of the domain's ids; 0 drops the domain)")
  setDefault(weights -> Map.empty[String, Double])
  def setWeights(m: Map[String, Double]): this.type = {
    require(m.values.forall(w => w >= 0.0 && !w.isNaN && !w.isInfinite),
      "repeat factors must be finite and >= 0")
    set(weights, m)
  }
  final val defaultWeight = new DoubleParam(this, "defaultWeight",
    "repeat factor for unlisted domains", ParamValidators.gtEq(0.0))
  setDefault(defaultWeight -> 1.0)
  def setDefaultWeight(v: Double): this.type = set(defaultWeight, v)
  final val salt = new Param[String](this, "salt",
    "hash salt — vary to draw independent fractional copies")
  setDefault(salt -> "up")
  def setSalt(v: String): this.type = set(salt, v)
  final val outputCol = new Param[String](this, "outputCol",
    "0-based copy-index column")
  setDefault(outputCol -> "epoch")
  def setOutputCol(v: String): this.type = set(outputCol, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    require(!df.columns.contains($(outputCol)),
      s"input already has a column named '${$(outputCol)}'")
    def floorOf(w: Double) = math.floor(w).toLong
    def thrOf(w: Double) =
      DomainMixtureSampler.hexThreshold(w - math.floor(w))
    val dom = col($(domainCol)).cast("string")
    val baseMap = $(weights).map { case (k, w) => k -> floorOf(w) }
    val thrMap = $(weights).map { case (k, w) => k -> thrOf(w) }
    val base =
      if (baseMap.isEmpty) lit(floorOf($(defaultWeight)))
      else coalesce(element_at(typedLit(baseMap), dom),
        lit(floorOf($(defaultWeight))))
    val thr =
      if (thrMap.isEmpty) lit(thrOf($(defaultWeight)))
      else coalesce(element_at(typedLit(thrMap), dom),
        lit(thrOf($(defaultWeight))))
    val key = substring(
      md5(concat(col($(idCol)).cast("string"), lit(":" + $(salt)))), 1, 8)
    val copies = base + when(key < thr, lit(1L)).otherwise(lit(0L))
    // sequence(0, -1) would count DOWN — guard the zero-copy case
    df.withColumn($(outputCol), explode(
      when(copies > 0, sequence(lit(0L), copies - 1))
        .otherwise(array().cast(ArrayType(LongType)))))
  }
  override def transformSchema(schema: StructType): StructType = {
    // mirror transform's clash check so a Pipeline with a conflicting
    // column fails at fit/validation, not late at transform
    require(!schema.fieldNames.contains($(outputCol)),
      s"input already has a column named '${$(outputCol)}'")
    StructType(schema :+ StructField($(outputCol), LongType, nullable = false))
  }
  override def copy(extra: ParamMap): DomainUpsampler = defaultCopy(extra)
}
object DomainUpsampler extends graft.core.GraftReadable[DomainUpsampler]

/** Deterministic per-domain TOKEN-budget sampling — the missing third
  * axis of mixture control: data cards specify mixtures in TOKENS, not
  * document fractions or epochs ("300B of web, 30B of code"), and doc
  * counts are a poor proxy when domains differ 100x in document length.
  *
  * Default (approximate) mode is two narrow passes, fit-free:
  * a map-side-combined per-domain token-total agg (bounded driver
  * collect, `maxDomains` fail-fast — the [[TemperatureSampler]]
  * histogram shape), then keep rate r_d = min(1, budget_d / total_d)
  * realized by the [[DomainMixtureSampler]] md5-threshold rule —
  * partitioning-independent, SQL-replayable, and at 100 TB one agg
  * plus one narrow filter. Document-level Bernoulli selection at rate
  * budget/total is unbiased in token MASS (selection is independent of
  * document length), so realized tokens converge to the budget with
  * relative error O(1/√docs-kept) — sub-percent at any real budget.
  *
  * `exact` mode instead keeps the md5-ordered greedy PREFIX per domain
  * (window cumulative token sum; a document is kept iff the tokens
  * BEFORE it are under the budget, so any positive budget keeps at
  * least one document and overshoot is bounded by one document). It
  * needs no totals pass, but the window sends each domain through one
  * task's sort — the final-assembly / small-corpus path when the
  * budget is a hard cap, not the 100 TB default. (Design note, should
  * a hard-cap-at-scale case appear: the [[SequencePacker]]
  * per-(group, shard) trick parallelizes it — split each domain into S
  * md5-range shards with sub-budget budget/S, run the same windowed
  * prefix per (domain, shard); S× the parallelism for ≤S documents of
  * overshoot, converging on the global greedy prefix as the md5 key
  * distributes token mass evenly across shards.)
  *
  * Both modes keep the same documents given the same (id, salt) as the
  * rest of the family: reproducible across runs, cluster sizes, and
  * partitionings. A per-domain DOCUMENT-COUNT cap (RefinedWeb-style
  * domain capping) is the degenerate case: point `tokensCol` at a
  * constant-1 column and the budget is a max-docs-per-domain.
  */
class TokenBudgetSampler(override val uid: String) extends Transformer
    with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("TokenBudgetSampler"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val domainCol = new Param[String](this, "domainCol", "domain column")
  setDefault(domainCol -> "source")
  def setDomainCol(v: String): this.type = set(domainCol, v)
  final val tokensCol = new Param[String](this, "tokensCol",
    "per-document token count column (null counts as 0)")
  setDefault(tokensCol -> "n_tokens")
  def setTokensCol(v: String): this.type = set(tokensCol, v)
  final val budgets = new Param[Map[String, Long]](this, "budgets",
    "domain -> token budget (>= 0; 0 drops the domain)")
  setDefault(budgets -> Map.empty[String, Long])
  def setBudgets(m: Map[String, Long]): this.type = {
    require(m.values.forall(_ >= 0L), "token budgets must be >= 0")
    set(budgets, m)
  }
  final val defaultBudget = new LongParam(this, "defaultBudget",
    "token budget for unlisted domains; -1 = uncapped (keep all)")
  setDefault(defaultBudget -> -1L)
  def setDefaultBudget(v: Long): this.type = set(defaultBudget, v)
  final val salt = new Param[String](this, "salt",
    "hash salt — vary to draw an independent sample")
  setDefault(salt -> "tok")
  def setSalt(v: String): this.type = set(salt, v)
  final val exact = new BooleanParam(this, "exact",
    "greedy hash-ordered prefix per domain (hard cap, one-doc " +
      "overshoot, one window sort) instead of rate sampling")
  setDefault(exact -> false)
  def setExact(v: Boolean): this.type = set(exact, v)
  final val maxDomains = new IntParam(this, "maxDomains",
    "fail-fast cap on the domain-total collect (approximate mode)",
    ParamValidators.gt(0))
  setDefault(maxDomains -> 100000)
  def setMaxDomains(v: Int): this.type = set(maxDomains, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    val df = ds.toDF()
    val dom = col($(domainCol)).cast("string")
    val toks = coalesce(col($(tokensCol)).cast("long"), lit(0L))
    def budgetOf(d: String): Long =
      $(budgets).getOrElse(d, $(defaultBudget))
    if ($(exact)) {
      val bMap = $(budgets)
      val bCol =
        if (bMap.isEmpty) lit($(defaultBudget))
        else coalesce(element_at(typedLit(bMap), dom), lit($(defaultBudget)))
      val h = substring(
        md5(concat(col($(idCol)).cast("string"), lit(":" + $(salt)))), 1, 8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(dom).orderBy(h.asc, col($(idCol)).cast("string").asc)
      val before = sum(toks).over(w) - toks
      // window expressions are not allowed inside filter — project first
      val tmp = graft.core.DatasetExtensions
        .findUnusedColumnName("__tb_before", df.schema)
      df.withColumn(tmp, before)
        .filter(bCol < 0L || col(tmp) < bCol).drop(tmp)
    } else {
      // per-domain token totals: map-side combined, bounded collect
      // (limit cap+1 so the guard costs no extra action, saturating at
      // Int.MaxValue); sorted so the rate map is a pure function of the
      // corpus
      val fetch =
        if ($(maxDomains) == Int.MaxValue) $(maxDomains) else $(maxDomains) + 1
      val totals = df.groupBy(dom.as("__d")).agg(sum(toks).as("__t"))
        .orderBy(col("__d")).limit(fetch)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      require(totals.length <= $(maxDomains),
        s"more than ${$(maxDomains)} distinct domains; raise maxDomains " +
          "only if the driver can hold the totals")
      def rateOf(b: Long, t: Long): Double =
        if (b < 0L || t <= 0L) 1.0
        else math.min(1.0, b.toDouble / t.toDouble)
      // a null domain cannot key the literal rate map (CreateMap rejects
      // null keys); its group is budgeted through defaultWeight instead —
      // same rate rule at the null group's own total, mirroring exact
      // mode, where coalesce hands the null partition the defaultBudget
      val nullTotal =
        totals.iterator.collectFirst { case (d, t) if d == null => t }
          .getOrElse(0L)
      val rates = totals.iterator.filter(_._1 != null).map { case (d, t) =>
        d -> rateOf(budgetOf(d), t)
      }.toMap
      new DomainMixtureSampler().setIdCol($(idCol))
        .setDomainCol($(domainCol)).setWeights(rates)
        .setDefaultWeight(rateOf($(defaultBudget), nullTotal))
        .setSalt($(salt)).transform(df)
    }
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema, "idCol" -> $(idCol),
      "domainCol" -> $(domainCol), "tokensCol" -> $(tokensCol))
    schema
  }
  override def copy(extra: ParamMap): TokenBudgetSampler = defaultCopy(extra)
}
object TokenBudgetSampler
    extends graft.core.GraftReadable[TokenBudgetSampler]

/** Deterministic DISJOINT split assignment — the held-out-split maker.
  * Spark's `randomSplit` samples per partition, so the same document
  * can migrate between train and validation across re-runs, cluster
  * sizes, or upstream re-partitioning — which silently contaminates
  * every downstream eval. Here the assignment is a pure function of
  * (id, salt): the md5 8-hex key falls into contiguous cumulative
  * ranges (the [[DomainMixtureSampler.hexThreshold]] convention),
  * boundaries accumulated over split names in ASCENDING name order so
  * the mapping is reproducible from the weights alone.
  *
  * Fractions must sum to ≤ 1; rows whose key lands past the last
  * boundary (the leftover mass when the sum is < 1) get a NULL split —
  * an explicit "unassigned" a caller can filter or route. Narrow
  * projection, no shuffle, no state; disjointness is by construction
  * (one `when` chain over one key).
  */
class DeterministicSplitter(override val uid: String) extends Transformer
    with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("DeterministicSplitter"))

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val splits = new Param[Map[String, Double]](this, "splits",
    "split name -> fraction (>= 0, summing to <= 1)")
  setDefault(splits -> Map("train" -> 0.98, "val" -> 0.01, "test" -> 0.01))
  def setSplits(m: Map[String, Double]): this.type = {
    require(m.nonEmpty, "at least one split")
    require(m.values.forall(w => w >= 0.0 && !w.isNaN && !w.isInfinite),
      "split fractions must be finite and >= 0")
    require(m.values.sum <= 1.0 + 1e-9,
      s"split fractions sum to ${m.values.sum} > 1")
    set(splits, m)
  }
  final val salt = new Param[String](this, "salt",
    "hash salt — vary to draw an independent assignment")
  setDefault(salt -> "split")
  def setSalt(v: String): this.type = set(salt, v)
  final val outputCol = new Param[String](this, "outputCol",
    "assigned split-name column (null = past the last boundary)")
  setDefault(outputCol -> "split")
  def setOutputCol(v: String): this.type = set(outputCol, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    require(!df.columns.contains($(outputCol)),
      s"input already has a column named '${$(outputCol)}'")
    val names = $(splits).keys.toSeq.sorted
    val cums = names.map($(splits)).scanLeft(0.0)(_ + _).tail
    val key = substring(
      md5(concat(col($(idCol)).cast("string"), lit(":" + $(salt)))), 1, 8)
    val chain = names.zip(cums).foldLeft(when(lit(false), lit(""))) {
      case (acc, (n, c)) =>
        acc.when(key < lit(DomainMixtureSampler.hexThreshold(c)), n)
    }.otherwise(lit(null).cast(StringType))
    df.withColumn($(outputCol), chain)
  }
  override def transformSchema(schema: StructType): StructType = {
    // mirror transform's clash check so a Pipeline with a conflicting
    // column fails at fit/validation, not late at transform
    require(!schema.fieldNames.contains($(outputCol)),
      s"input already has a column named '${$(outputCol)}'")
    StructType(schema :+ StructField($(outputCol), StringType))
  }
  override def copy(extra: ParamMap): DeterministicSplitter = defaultCopy(extra)
}
object DeterministicSplitter
    extends graft.core.GraftReadable[DeterministicSplitter]

object DomainMixtureSampler
    extends graft.core.GraftReadable[DomainMixtureSampler] {
  /** weight -> 8-hex-lowercase threshold; "g" (> every hex char) keeps
    * all rows at weight 1.0, "0" (shorter than every 8-char key) keeps
    * none at weight 0.
    */
  def hexThreshold(w: Double): String =
    if (w >= 1.0) "g"
    else if (w <= 0.0) "0"
    else f"${(w * 4294967296.0).toLong}%08x"
}
