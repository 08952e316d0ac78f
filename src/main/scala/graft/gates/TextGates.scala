package graft
package gates

import graft.dedup._
import graft.text._
import graft.gates.GateSupport.tbl
import org.apache.spark.sql.functions._

/** Text-op gates (SURVEY.md §2.8 and the LLM pipeline):
  * normalization, tokenization, page splitting, chunking, n-grams and
  * the VW hashing featurizer. */
object TextGates {
  val gates: Seq[Gate] = Seq(
    Gate("unicode_normalize", { (s, dir) =>
      new UnicodeNormalize().setInputCol("text").setOutputCol("text_norm")
        .setForm("NFC").setLower(true)
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("text_norm"))
    }, oracle = Some(
      "SELECT doc_id, lower(nfc_normalize(text)) AS text_norm FROM documents")),

    Gate("text_preprocessor", { (s, dir) =>
      new TextPreprocessor().setInputCol("text").setOutputCol("text_repl")
        .setMap(Map("scan" -> "SCAN", "join" -> "JOIN"))
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("text_repl"))
    }, oracle = Some(
      """SELECT doc_id,
        |  replace(replace(text, 'scan', 'SCAN'), 'join', 'JOIN') AS text_repl
        |FROM documents""".stripMargin)),

    Gate("doc_token_count", { (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(DedupFunctions.canonical(col("text"))).as("fp_md5"))
    }, oracle = Some(
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp_md5
        |FROM documents""".stripMargin)),

    // fingerprint (xxhash64) stays suite-only; quality is hashed as the
    // scaled integer quality_q4 (floor(q*1e4+0.5)) so no raw IEEE ratio or
    // round(x,6) decimal-tie semantics ever reaches the hash gate
    Gate("doc_stats", { (s, dir) =>
      new DocumentAnalyzer().setInputCol("text")
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_tokens_est"), col("n_alpha"), col("n_punct"), col("n_stop"),
          col("quality_q4"), col("lang_pred"))
    }, oracle = Some(
      // Integer-derived columns only: counts are exact BIGINTs; quality is
      // hashed as quality_q4 = floor(q*1e4 + 0.5) computed from the same
      // integers in the same fixed operation order on both sides (floor has
      // no decimal-tie semantics, unlike round(x,6), so it survives DuckDB
      // version drift); lang-id tokenization uses a literal letter class
      // instead of the Unicode-table-dependent \p{L}.
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CAST(length(text) AS DOUBLE) AS len_d,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    string_split_regex(lower(trim(text)), '\s+') AS ltoks,
        |    string_split_regex(lower(text),
        |      '[^a-zàâçèéêëîïôùûüáíóúñäöß]+') AS wtoks
        |  FROM documents),
        |counted AS (
        |  SELECT doc_id, len_d, len(toks) AS n_tokens,
        |    -- CAST the list_sum: DuckDB widens BIGINT sums to HUGEINT,
        |    -- which pandas/arrow-side compares render as float64 ("42.0"
        |    -- vs Spark's int64 "42") — the round-5/6 hash-gate red was
        |    -- exactly this type skew, not a value difference
        |    CAST(list_sum(list_transform(toks,
        |      w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT)
        |      AS n_tokens_est,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |      AS BIGINT) AS n_alpha,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
        |      AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(ltoks, t -> list_contains(
        |      ['the','a','an','and','or','of','to','in','is','it','that',
        |       'for','on','with','as','at','by','be','this','are'], t)))
        |      AS BIGINT) AS n_stop,
        |    CAST(len(ltoks) AS DOUBLE) AS n_ltoks_d,
        |    CAST(len(list_filter(wtoks, t -> list_contains(
        |      ['the','and','of','to','is','you','that','it'], t))) AS DOUBLE)
        |      AS s_en,
        |    CAST(len(list_filter(wtoks, t -> list_contains(
        |      ['le','la','les','des','et','est','une','que'], t))) AS DOUBLE)
        |      + CAST(length(regexp_replace(text, '[^àâçéèêëîïôùûü]', '', 'g'))
        |        AS DOUBLE) AS s_fr,
        |    CAST(len(list_filter(wtoks, t -> list_contains(
        |      ['el','los','las','es','una','que','por','como'], t))) AS DOUBLE)
        |      + CAST(length(regexp_replace(text, '[^áéíóúñ¿¡]', '', 'g'))
        |        AS DOUBLE) AS s_es,
        |    CAST(len(list_filter(wtoks, t -> list_contains(
        |      ['der','die','das','und','ist','nicht','ein','mit'], t))) AS DOUBLE)
        |      + CAST(length(regexp_replace(text, '[^äöüß]', '', 'g'))
        |        AS DOUBLE) AS s_de,
        |    CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g'))
        |      AS DOUBLE) * 2 AS s_zh
        |  FROM base)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_tokens_est,
        |  n_alpha, n_punct, n_stop,
        |  CAST(floor(least(1.0,
        |    CAST(n_alpha AS DOUBLE) / greatest(len_d, 1.0) * 0.4
        |    + (1.0 - least(
        |        CAST(n_punct AS DOUBLE) / greatest(len_d, 1.0) * 5, 1.0)) * 0.2
        |    + CAST(n_stop AS DOUBLE) / greatest(n_ltoks_d, 1.0) * 2.0 * 0.2
        |    + (CASE WHEN len_d / greatest(n_ltoks_d, 1.0)
        |        BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2)
        |    * 10000.0 + 0.5) AS BIGINT) AS quality_q4,
        |  CASE greatest(s_en, s_fr, s_es, s_de, s_zh)
        |    WHEN s_zh THEN 'zh' WHEN s_fr THEN 'fr' WHEN s_es THEN 'es'
        |    WHEN s_en THEN 'en' ELSE 'de' END AS lang_pred
        |FROM counted""".stripMargin)),

    Gate("page_splitter", { (s, dir) =>
      new PageSplitter().setInputCol("text").setOutputCol("pages")
        .setMaximumPageLength(200).setMinimumPageLength(100)
        .transform(tbl(s, dir, "documents"))
        .selectExpr("doc_id", "size(pages) as n_pages")
    }, oracle = Some(
      // PageSplitter greedy cut recurrence via recursive CTE: cut at the
      // last boundary in (minLen=100, maxLen=200] (regexp strip of the
      // trailing non-space run finds it), hard cut at maxLen when none
      """WITH RECURSIVE r AS (
        |  SELECT doc_id, text, 0 AS off, 0 AS n FROM documents
        |  UNION ALL
        |  SELECT doc_id, text,
        |    off + CASE WHEN last_ws > 0 THEN 100 + last_ws ELSE 200 END,
        |    n + 1
        |  FROM (
        |    SELECT doc_id, text, off, n,
        |      length(regexp_replace(substring(text, off + 101, 100),
        |        '[^\s]*$', '')) AS last_ws
        |    FROM r WHERE length(text) - off > 200) s),
        |final AS (
        |  SELECT doc_id, max_by(n, off) AS n, max(off) AS off,
        |    any_value(length(text)) AS tlen
        |  FROM r GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(n + CASE WHEN tlen - off > 0 OR n = 0 THEN 1 ELSE 0 END
        |    AS INTEGER) AS n_pages
        |FROM final""".stripMargin)),

    Gate("doc_chunks", { (s, dir) =>
      new TokenChunker().setInputCol("text").setOutputCol("chunks")
        .setChunkTokens(40).setStrideTokens(30)
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), posexplode(col("chunks")))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
          col("col").as("chunk"))
    }, oracle = Some(
      // overlapping token windows; ceil via floor of exact-int double division
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |n AS (SELECT doc_id, toks,
        |    CAST(FLOOR((GREATEST(len(toks) - 40, 0) + 29) / CAST(30 AS DOUBLE))
        |      AS INTEGER) + 1 AS nchunks FROM t)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
        |  array_to_string(list_slice(toks, i * 30 + 1, i * 30 + 40), ' ')
        |    AS chunk
        |FROM (SELECT doc_id, toks, unnest(range(0, nchunks)) AS i FROM n)""".stripMargin)),

    Gate("multi_ngram", { (s, dir) =>
      new MultiNGram().setInputCol("__toks").setOutputCol("ngrams")
        .setLengths(Seq(1, 2, 3))
        .transform(tbl(s, dir, "documents")
          .withColumn("__toks", split(col("text"), " ")))
        .select(col("doc_id"), size(col("ngrams")).cast("int").as("n_ngrams"))
    }, oracle = Some( // piecewise so 1-2-token docs stay correct
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' '))
        |    + GREATEST(len(string_split(text, ' ')) - 1, 0)
        |    + GREATEST(len(string_split(text, ' ')) - 2, 0) AS INTEGER) AS n_ngrams
        |FROM documents""".stripMargin)),

    // ---- VW hashing featurizer (§2.8) -------------------------------

    // hash-gated: the sparse (index, value) pairs themselves. The murmur
    // feature indices form a tiny closed set here (1 numeric column + 5
    // event types, all distinct under the 18-bit mask), so the oracle
    // enumerates them as constants — Murmur3 itself is property-tested
    // against the public test vectors in FeaturizeSuite, and an
    // independent python murmur3_32 reproduced these exact constants.
    Gate("vw_featurizer", { (s, dir) =>
      val feats = new graft.featurize.VowpalHashFeaturizer()
        .setInputCols(Seq("value", "event_type")).setNumBits(18)
        .transform(tbl(s, dir, "events"))
      val toPairs = udf((v: org.apache.spark.ml.linalg.SparseVector) =>
        v.indices.zip(v.values).toSeq)
      feats.select(col("event_id"), explode(toPairs(col("features"))).as("p"))
        .select(col("event_id"), col("p._1").as("feat_idx"),
          col("p._2").as("feat_val"))
    }, oracle = Some {
      // constants = murmur3_32(key) & 0x3FFFF, the closed key set of this
      // fixture (see the query's comment); a regenerated fixture with a new
      // event_type yields NULL feat_idx here and reddens the gate loudly
      def vwIdx(k: String): Int =
        graft.featurize.Murmur3.hashString(k, 0) & ((1 << 18) - 1)
      val cases = Seq("click", "signup", "error", "view", "purchase")
        .map(t => s"WHEN '$t' THEN ${vwIdx("event_type=" + t)}").mkString(" ")
      s"""SELECT event_id, CAST(${vwIdx("value")} AS INTEGER) AS feat_idx,
         |  value AS feat_val FROM events
         |WHERE value IS NOT NULL AND value <> 0.0
         |UNION ALL
         |SELECT event_id, CAST(CASE event_type $cases END AS INTEGER)
         |    AS feat_idx,
         |  CAST(1.0 AS DOUBLE) AS feat_val FROM events
         |WHERE event_type IS NOT NULL""".stripMargin
    })
  )
}
