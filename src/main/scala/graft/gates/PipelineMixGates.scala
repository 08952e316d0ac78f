package graft
package gates

import graft.text._
import graft.gates.GateSupport.tbl
import org.apache.spark.sql.functions._

/** Training-data-pipeline gates, filter-and-mix part:
  * DSIR scoring, line dedup, shuffling, PII redaction, Gopher repetition
  * and rules, domain mixtures, splits and token budgets. */
object PipelineMixGates {
  /** Shared DuckDB CTE block: every Gopher repetition signal computed
    * from a `docs(doc_id, t2)` head CTE — line/paragraph duplicate
    * stats, word positions, top-{2,3,4}-gram char counts, and
    * overlap-aware dup-{5..10}-gram char coverage. Used by both the
    * `gopher_repetition` signal oracle and the `gopher_filter`
    * threshold-rule oracle. */
  private val GopherRepetitionCtes: String =
    """dstat AS (
      |  SELECT doc_id, len(t2) AS dch FROM docs),
      |lraw AS (
      |  SELECT doc_id, unnest(string_split(t2, chr(10))) AS l FROM docs),
      |lg AS (
      |  SELECT doc_id, len(trim(l)) AS lc, count(*) AS c
      |  FROM lraw WHERE trim(l) <> '' GROUP BY doc_id, trim(l), len(trim(l))),
      |lstat AS (
      |  SELECT doc_id, sum(c) AS nl,
      |    sum(c - 1) AS ldup, sum((c - 1) * lc) AS ldupch
      |  FROM lg GROUP BY 1),
      |praw AS (
      |  SELECT doc_id, unnest(string_split_regex(t2, '\n{2,}')) AS p
      |  FROM docs),
      |pg AS (
      |  SELECT doc_id, len(trim(p)) AS pc, count(*) AS c
      |  FROM praw WHERE trim(p) <> '' GROUP BY doc_id, trim(p), len(trim(p))),
      |pstat AS (
      |  SELECT doc_id, sum(c) AS np,
      |    sum(c - 1) AS pdup, sum((c - 1) * pc) AS pdupch
      |  FROM pg GROUP BY 1),
      |toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(t2), '\s+'),
      |      x -> x <> '') AS t
      |  FROM docs),
      |wstat AS (
      |  SELECT doc_id, len(t) AS nw,
      |    COALESCE(list_sum(list_transform(t, x -> len(x))), 0) AS twc
      |  FROM toks),
      |wpos AS (
      |  SELECT doc_id, i, t[i] AS w
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
      |        FROM toks)),
      |g2 AS (SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ')
      |    AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
      |tp2 AS (SELECT doc_id, tc2 FROM (
      |  SELECT doc_id, count(*) * len(g) AS tc2,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY count(*) DESC, g ASC) AS rn
      |  FROM g2 GROUP BY doc_id, g) WHERE rn = 1),
      |g3 AS (SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ')
      |    AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
      |        FROM toks)),
      |tp3 AS (SELECT doc_id, tc3 FROM (
      |  SELECT doc_id, count(*) * len(g) AS tc3,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY count(*) DESC, g ASC) AS rn
      |  FROM g3 GROUP BY doc_id, g) WHERE rn = 1),
      |g4 AS (SELECT doc_id, array_to_string(list_slice(t, i, i + 3), ' ')
      |    AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 2)) AS i
      |        FROM toks)),
      |tp4 AS (SELECT doc_id, tc4 FROM (
      |  SELECT doc_id, count(*) * len(g) AS tc4,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY count(*) DESC, g ASC) AS rn
      |  FROM g4 GROUP BY doc_id, g) WHERE rn = 1),
      |g5 AS (SELECT doc_id, i,
      |    array_to_string(list_slice(t, i, i + 4), ' ') AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
      |        FROM toks)),
      |d5 AS (SELECT DISTINCT doc_id, c.i + u.j AS p
      |  FROM (SELECT doc_id, i,
      |      count(*) OVER (PARTITION BY doc_id, g) AS cc FROM g5) c,
      |    unnest(range(0, 5)) AS u(j) WHERE c.cc > 1),
      |s5 AS (SELECT d.doc_id, sum(len(w.w)) AS dc5
      |  FROM d5 d JOIN wpos w ON d.doc_id = w.doc_id AND d.p = w.i
      |  GROUP BY 1),
      |g6 AS (SELECT doc_id, i,
      |    array_to_string(list_slice(t, i, i + 5), ' ') AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 4)) AS i
      |        FROM toks)),
      |d6 AS (SELECT DISTINCT doc_id, c.i + u.j AS p
      |  FROM (SELECT doc_id, i,
      |      count(*) OVER (PARTITION BY doc_id, g) AS cc FROM g6) c,
      |    unnest(range(0, 6)) AS u(j) WHERE c.cc > 1),
      |s6 AS (SELECT d.doc_id, sum(len(w.w)) AS dc6
      |  FROM d6 d JOIN wpos w ON d.doc_id = w.doc_id AND d.p = w.i
      |  GROUP BY 1),
      |g7 AS (SELECT doc_id, i,
      |    array_to_string(list_slice(t, i, i + 6), ' ') AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 5)) AS i
      |        FROM toks)),
      |d7 AS (SELECT DISTINCT doc_id, c.i + u.j AS p
      |  FROM (SELECT doc_id, i,
      |      count(*) OVER (PARTITION BY doc_id, g) AS cc FROM g7) c,
      |    unnest(range(0, 7)) AS u(j) WHERE c.cc > 1),
      |s7 AS (SELECT d.doc_id, sum(len(w.w)) AS dc7
      |  FROM d7 d JOIN wpos w ON d.doc_id = w.doc_id AND d.p = w.i
      |  GROUP BY 1),
      |g8 AS (SELECT doc_id, i,
      |    array_to_string(list_slice(t, i, i + 7), ' ') AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
      |        FROM toks)),
      |d8 AS (SELECT DISTINCT doc_id, c.i + u.j AS p
      |  FROM (SELECT doc_id, i,
      |      count(*) OVER (PARTITION BY doc_id, g) AS cc FROM g8) c,
      |    unnest(range(0, 8)) AS u(j) WHERE c.cc > 1),
      |s8 AS (SELECT d.doc_id, sum(len(w.w)) AS dc8
      |  FROM d8 d JOIN wpos w ON d.doc_id = w.doc_id AND d.p = w.i
      |  GROUP BY 1),
      |g9 AS (SELECT doc_id, i,
      |    array_to_string(list_slice(t, i, i + 8), ' ') AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 7)) AS i
      |        FROM toks)),
      |d9 AS (SELECT DISTINCT doc_id, c.i + u.j AS p
      |  FROM (SELECT doc_id, i,
      |      count(*) OVER (PARTITION BY doc_id, g) AS cc FROM g9) c,
      |    unnest(range(0, 9)) AS u(j) WHERE c.cc > 1),
      |s9 AS (SELECT d.doc_id, sum(len(w.w)) AS dc9
      |  FROM d9 d JOIN wpos w ON d.doc_id = w.doc_id AND d.p = w.i
      |  GROUP BY 1),
      |g10 AS (SELECT doc_id, i,
      |    array_to_string(list_slice(t, i, i + 9), ' ') AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8)) AS i
      |        FROM toks)),
      |d10 AS (SELECT DISTINCT doc_id, c.i + u.j AS p
      |  FROM (SELECT doc_id, i,
      |      count(*) OVER (PARTITION BY doc_id, g) AS cc FROM g10) c,
      |    unnest(range(0, 10)) AS u(j) WHERE c.cc > 1),
      |s10 AS (SELECT d.doc_id, sum(len(w.w)) AS dc10
      |  FROM d10 d JOIN wpos w ON d.doc_id = w.doc_id AND d.p = w.i
      |  GROUP BY 1)""".stripMargin

  /** the library's q4 fraction convention in DuckDB SQL */
  private def q4sql(num: String, den: String): String =
    s"CAST(floor(CAST($num AS DOUBLE) / CAST($den AS DOUBLE)" +
      " * 10000.0 + 0.5) AS BIGINT)"

  val gates: Seq[Gate] = Seq(
    // DSIR importance resampling (Xie et al. 2023): bigram LMs fitted on
    // the src0 slice (target) and the full corpus (raw); per-doc log
    // importance ratio q4-gated, selection at ratio >= 0
    Gate("dsir_score", { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      new graft.text.DSIRScorer().setInputCol("text")
        .setTargetPredicate("source = 'src0'").setVocabSize(16)
        .fit(docs).transform(docs)
        .select(col("doc_id"), col("dsir_n_tokens"),
          col("dsir_logratio_q4"),
          col("dsir_selected").cast("int").as("dsir_selected"))
    }, oracle = Some(
      // DSIR replayed in SQL: two add-1 bigram LMs (top-16 vocab each, UNK
      // pooling) fitted on the src0 slice and the full corpus; per-doc
      // logratio = sr/n - st/n in the Spark side's operation order
      """WITH tok AS (
        |  SELECT doc_id, source, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, source,
        |    array_to_string(list_slice(t, i, i + 1), ' ') AS g
        |  FROM (SELECT doc_id, source, t, unnest(range(1, len(t))) AS i
        |        FROM tok)),
        |tc AS (SELECT g, COUNT(*) AS c FROM gr
        |  WHERE source = 'src0' GROUP BY g),
        |ttot AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS nb FROM tc),
        |tv AS (SELECT g, c FROM (
        |    SELECT g, c, row_number() OVER (ORDER BY c DESC, g) AS rn
        |    FROM tc) WHERE rn <= 16),
        |tvs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
        |    CAST(COALESCE(SUM(c), 0) AS BIGINT) AS cv FROM tv),
        |tpar AS (SELECT
        |    CAST(ttot.nb AS DOUBLE) + 1.0 * (tvs.v + 1) AS denom,
        |    CAST(ttot.nb - tvs.cv AS DOUBLE) + 1.0 AS unknum
        |  FROM ttot CROSS JOIN tvs),
        |rc AS (SELECT g, COUNT(*) AS c FROM gr GROUP BY g),
        |rtot AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS nb FROM rc),
        |rv AS (SELECT g, c FROM (
        |    SELECT g, c, row_number() OVER (ORDER BY c DESC, g) AS rn
        |    FROM rc) WHERE rn <= 16),
        |rvs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
        |    CAST(COALESCE(SUM(c), 0) AS BIGINT) AS cv FROM rv),
        |rpar AS (SELECT
        |    CAST(rtot.nb AS DOUBLE) + 1.0 * (rvs.v + 1) AS denom,
        |    CAST(rtot.nb - rvs.cv AS DOUBLE) + 1.0 AS unknum
        |  FROM rtot CROSS JOIN rvs),
        |sc AS (
        |  SELECT gr.doc_id, COUNT(*) AS n,
        |    SUM(-ln((CASE WHEN tv.g IS NULL THEN tpar.unknum
        |      ELSE CAST(tv.c AS DOUBLE) + 1.0 END) / tpar.denom)) AS st,
        |    SUM(-ln((CASE WHEN rv.g IS NULL THEN rpar.unknum
        |      ELSE CAST(rv.c AS DOUBLE) + 1.0 END) / rpar.denom)) AS sr
        |  FROM gr LEFT JOIN tv ON gr.g = tv.g
        |    LEFT JOIN rv ON gr.g = rv.g
        |    CROSS JOIN tpar CROSS JOIN rpar
        |  GROUP BY gr.doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(sc.n, 0) AS BIGINT) AS dsir_n_tokens,
        |  CAST(COALESCE(
        |      FLOOR((sc.sr / sc.n - sc.st / sc.n) * 10000 + 0.5), 0)
        |    AS BIGINT) AS dsir_logratio_q4,
        |  CAST(CASE WHEN COALESCE(
        |      FLOOR((sc.sr / sc.n - sc.st / sc.n) * 10000 + 0.5), 0) >= 0
        |    THEN 1 ELSE 0 END AS INTEGER) AS dsir_selected
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin)),

    // CCNet-style line-level dedup over synthesized multi-line text (the
    // corpus is single-line): each doc gains a shared boilerplate line
    // (one of 3 variants -> corpus-repeated, removed) and a unique tail
    // (kept); repeated original texts dedup too, identically in both
    // engines. The oracle replays with exact line text, so Spark's
    // 64-bit line-hash path is collision-checked by the gate
    Gate("line_dedup", { (s, dir) =>
      val t2 = concat_ws("\n", col("text"),
        concat(lit("boilerplate-"), (col("doc_id") % 3).cast("string")),
        concat(lit("unique-"), col("doc_id").cast("string")))
      new graft.text.LineDeduplicator().setInputCol("__t2")
        .transform(tbl(s, dir, "documents").withColumn("__t2", t2))
        .select(col("doc_id"), col("ld_n_lines"), col("ld_n_dup_lines"),
          col("ld_text"))
    }, oracle = Some(
      // line dedup replayed with exact line text: identical synthesized
      // boilerplate/unique lines, trim+drop-empty tokenization, corpus-wide
      // count >= 2, kept lines re-joined in position order
      """WITH base AS (
        |  SELECT doc_id, text || chr(10) || 'boilerplate-' || (doc_id % 3)
        |    || chr(10) || 'unique-' || doc_id AS t2
        |  FROM documents),
        |ln AS (SELECT doc_id, list_filter(list_transform(
        |    string_split(t2, chr(10)), x -> trim(x)), x -> x <> '') AS l
        |  FROM base),
        |ex AS (SELECT doc_id, i - 1 AS pos, l[i] AS line
        |  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
        |        FROM ln)),
        |dup AS (SELECT line FROM ex GROUP BY line HAVING COUNT(*) >= 2),
        |m AS (SELECT e.doc_id, e.pos FROM ex e JOIN dup USING (line)),
        |dw AS (SELECT doc_id, COUNT(*) AS nd FROM m GROUP BY doc_id),
        |kept AS (SELECT e.doc_id,
        |    COALESCE(string_agg(e.line, chr(10) ORDER BY e.pos), '') AS txt
        |  FROM ex e
        |  WHERE NOT EXISTS (SELECT 1 FROM m
        |      WHERE m.doc_id = e.doc_id AND m.pos = e.pos)
        |  GROUP BY e.doc_id)
        |SELECT d.doc_id,
        |  CAST(len(ln.l) AS BIGINT) AS ld_n_lines,
        |  CAST(COALESCE(dw.nd, 0) AS BIGINT) AS ld_n_dup_lines,
        |  COALESCE(kept.txt, '') AS ld_text
        |FROM documents d
        |JOIN ln ON ln.doc_id = d.doc_id
        |LEFT JOIN dw ON dw.doc_id = d.doc_id
        |LEFT JOIN kept ON kept.doc_id = d.doc_id""".stripMargin)),

    // SITE-scoped boilerplate removal with document-frequency counting
    // (round 15): `sitebp-<source>` repeats across every doc of a
    // source -> removed; `xdom-<doc_id/20>` is unique within each
    // source but shared ACROSS all 20 sources -> kept (corpus-wide
    // counting would kill it); `twice-<doc_id>` appears twice inside
    // ONE doc only -> kept under docs-once counting (raw occurrences
    // would kill both copies); `unique-<doc_id>` always kept
    Gate("line_dedup_scoped", { (s, dir) =>
      val t2 = concat_ws("\n", col("text"),
        concat(lit("sitebp-"), col("source")),
        concat(lit("xdom-"),
          floor(col("doc_id") / 20).cast("long").cast("string")),
        concat(lit("twice-"), col("doc_id").cast("string")),
        concat(lit("twice-"), col("doc_id").cast("string")),
        concat(lit("unique-"), col("doc_id").cast("string")))
      new graft.text.LineDeduplicator().setInputCol("__t2")
        .setScopeCol("source").setCountDocsOnce(true)
        .transform(tbl(s, dir, "documents").withColumn("__t2", t2))
        .select(col("doc_id"), col("ld_n_lines"), col("ld_n_dup_lines"),
          col("ld_text"))
    }, oracle = Some(
      // per-source scoping + document-frequency counting replayed: dup
      // groups by (source, line) over DISTINCT doc_ids
      """WITH base AS (
        |  SELECT doc_id, source, text
        |    || chr(10) || 'sitebp-' || source
        |    || chr(10) || 'xdom-' || CAST(CAST(floor(doc_id / 20)
        |         AS BIGINT) AS VARCHAR)
        |    || chr(10) || 'twice-' || doc_id
        |    || chr(10) || 'twice-' || doc_id
        |    || chr(10) || 'unique-' || doc_id AS t2
        |  FROM documents),
        |ln AS (SELECT doc_id, source, list_filter(list_transform(
        |    string_split(t2, chr(10)), x -> trim(x)), x -> x <> '') AS l
        |  FROM base),
        |ex AS (SELECT doc_id, source, i - 1 AS pos, l[i] AS line
        |  FROM (SELECT doc_id, source, l, unnest(range(1, len(l) + 1)) AS i
        |        FROM ln)),
        |dup AS (SELECT source, line FROM ex GROUP BY source, line
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |m AS (SELECT e.doc_id, e.pos FROM ex e
        |  JOIN dup USING (source, line)),
        |dw AS (SELECT doc_id, COUNT(*) AS nd FROM m GROUP BY doc_id),
        |kept AS (SELECT e.doc_id,
        |    COALESCE(string_agg(e.line, chr(10) ORDER BY e.pos), '') AS txt
        |  FROM ex e
        |  WHERE NOT EXISTS (SELECT 1 FROM m
        |      WHERE m.doc_id = e.doc_id AND m.pos = e.pos)
        |  GROUP BY e.doc_id)
        |SELECT d.doc_id,
        |  CAST(len(ln.l) AS BIGINT) AS ld_n_lines,
        |  CAST(COALESCE(dw.nd, 0) AS BIGINT) AS ld_n_dup_lines,
        |  COALESCE(kept.txt, '') AS ld_text
        |FROM documents d
        |JOIN ln ON ln.doc_id = d.doc_id
        |LEFT JOIN dw ON dw.doc_id = d.doc_id
        |LEFT JOIN kept ON kept.doc_id = d.doc_id""".stripMargin)),

    // deterministic global training-order shuffle: dense positions in
    // md5(id || ':' || seed) order — the hash is the public contract, so
    // the oracle reproduces the exact permutation
    Gate("corpus_shuffle", { (s, dir) =>
      new graft.text.CorpusShuffler().setIdCol("doc_id")
        .transform(tbl(s, dir, "documents").select("doc_id"))
        .select(col("doc_id"), col("shuffle_pos"))
    }, oracle = Some(
      """SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) - 1
        |  AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin)),

    // PII redaction over deterministically synthesized PII (the corpus
    // has none): email/phone/ip/ssn spans derived from doc_id are
    // appended identically in the oracle SQL, then both engines redact —
    // the gate checks the real regex chain byte-for-byte
    Gate("pii_redact", { (s, dir) =>
      val id = col("doc_id")
      val synth = concat(col("text"),
        lit(" contact user"), id.cast("string"),
        lit("@mail.example.com or +1 555-"),
        lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((id * 7) % 10000).cast("string"), 4, "0"),
        lit(" ip 10.0."), (id % 256).cast("string"),
        lit("."), ((id * 3) % 256).cast("string"),
        lit(" ssn "), lpad(((id % 900) + 100).cast("string"), 3, "0"),
        lit("-"), lpad(((id % 90) + 10).cast("string"), 2, "0"),
        lit("-"), lpad(((id * 13) % 10000).cast("string"), 4, "0"))
      new PIIRedactor().setInputCol("__pii").setOutputCol("redacted")
        .transform(tbl(s, dir, "documents").withColumn("__pii", synth))
        .select(col("doc_id"), col("redacted"))
    }, oracle = Some(
      // identical synthesized-PII construction, identical ordered regex
      // chain (email, ssn, phone, ipv4); patterns use only literal classes
      // + bounded quantifiers so Java regex and RE2 agree
      """WITH pii AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example.com or +1 555-'
        |    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
        |    || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
        |    || ' ip 10.0.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256)
        |    || ' ssn ' || lpad(CAST((doc_id % 900) + 100 AS VARCHAR), 3, '0')
        |    || '-' || lpad(CAST((doc_id % 90) + 10 AS VARCHAR), 2, '0')
        |    || '-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(t,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |          '<EMAIL>', 'g'),
        |        '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
        |      '[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')
        |    AS redacted
        |FROM pii""".stripMargin)),

    // Gopher-style repetition signals — all integer or q4-scaled outputs
    Gate("repetition_signals", { (s, dir) =>
      new RepetitionProfiler().setInputCol("text")
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), col("dup_word_q4"),
          col("top_2gram_count"), col("top_2gram_q4"), col("dup_2gram_q4"))
    }, oracle = Some(
      // duplicate-occurrence counts via unnest+group (equivalent to the
      // Spark side's sorted-array run-length scan: a gram with count c>1
      // contributes c occurrences); fractions are q4-scaled from the same
      // integers in the same operation order
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, array_to_string(list_slice(t, i, i+1), ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        |agg2 AS (
        |  SELECT doc_id, max(c) AS topc, sum(c) AS n2,
        |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup2
        |  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
        |  GROUP BY 1),
        |w AS (
        |  SELECT doc_id, len(t) AS nw, len(list_distinct(t)) AS nd
        |  FROM toks)
        |SELECT w.doc_id, CAST(nw AS BIGINT) AS n_words,
        |  CAST(floor(CAST(nw - nd AS DOUBLE) / CAST(nw AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS dup_word_q4,
        |  CAST(topc AS BIGINT) AS top_2gram_count,
        |  CAST(floor(CAST(topc AS DOUBLE) / CAST(n2 AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS top_2gram_q4,
        |  CAST(floor(CAST(dup2 AS DOUBLE) / CAST(n2 AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS dup_2gram_q4
        |FROM w JOIN agg2 ON w.doc_id = agg2.doc_id""".stripMargin)),

    // Full Gopher repetition-removal set over synthesized structure
    // (the corpus is single-line): a line duplicated on id%3, a
    // paragraph duplicated on id%4, and a 10-word phrase repeated on
    // id%5 (drives the 5..10-gram overlap-aware coverage); the oracle
    // rebuilds the same text and recomputes all 16 columns
    Gate("gopher_repetition", { (s, dir) =>
      val id = col("doc_id")
      val rep10 =
        "one two three four five six seven eight nine ten"
      val t2 = concat_ws("\n\n",
        concat_ws("\n",
          col("text"),
          lit("the same exact line repeats here"),
          when(id % 3 === 0, lit("the same exact line repeats here"))
            .otherwise(concat(lit("distinct closing line "),
              id.cast("string")))),
        when(id % 4 === 0, lit("para block alpha\npara block beta"))
          .otherwise(concat(lit("para body "), id.cast("string"))),
        lit("para block alpha\npara block beta"),
        when(id % 5 === 0, lit(s"$rep10 filler word $rep10"))
          .otherwise(concat(lit("tail words close page "),
            id.cast("string"))))
      new graft.text.GopherRepetition().setInputCol("__t2")
        .transform(tbl(s, dir, "documents").withColumn("__t2", t2))
        .select(col("doc_id") +:
          graft.text.GopherRepetition.fields.map(f => col(f._1)): _*)
    }, oracle = Some(
      // rebuilds the gate's synthesized text, then replays every Gopher
      // repetition signal at ecosystem (datatrove/Dolma) semantics:
      // exclude-first line/paragraph duplicate fractions, whole-document
      // char denominators, top-{2,3,4}-gram char fraction with inner
      // spaces (ties to the binary-smallest gram), and overlap-aware
      // dup-{5..10}-gram char coverage via DISTINCT covered word positions
      ("""WITH docs AS (
        |  SELECT doc_id,
        |    text || chr(10) ||
        |    'the same exact line repeats here' || chr(10) ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'the same exact line repeats here'
        |      ELSE 'distinct closing line ' || CAST(doc_id AS VARCHAR)
        |    END || chr(10) || chr(10) ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN 'para block alpha' || chr(10) || 'para block beta'
        |      ELSE 'para body ' || CAST(doc_id AS VARCHAR)
        |    END || chr(10) || chr(10) ||
        |    'para block alpha' || chr(10) || 'para block beta'
        |    || chr(10) || chr(10) ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'one two three four five six seven eight nine ten' ||
        |        ' filler word ' ||
        |        'one two three four five six seven eight nine ten'
        |      ELSE 'tail words close page ' || CAST(doc_id AS VARCHAR)
        |    END AS t2
        |  FROM documents),""".stripMargin + "\n" +
      GopherRepetitionCtes + "\n" +
      """SELECT doc_id,
        |  CAST(nl AS BIGINT) AS gr_n_lines,
        |  CAST(floor(CAST(ldup AS DOUBLE) / CAST(nl AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_dup_line_q4,
        |  CAST(floor(CAST(ldupch AS DOUBLE) / CAST(dch AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_dup_line_char_q4,
        |  CAST(np AS BIGINT) AS gr_n_paras,
        |  CAST(floor(CAST(pdup AS DOUBLE) / CAST(np AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_dup_para_q4,
        |  CAST(floor(CAST(pdupch AS DOUBLE) / CAST(dch AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_dup_para_char_q4,
        |  CAST(nw AS BIGINT) AS gr_n_words,
        |  CAST(floor(CAST(tc2 AS DOUBLE) / CAST(dch AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_top_2gram_char_q4,
        |  CAST(floor(CAST(tc3 AS DOUBLE) / CAST(dch AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_top_3gram_char_q4,
        |  CAST(floor(CAST(tc4 AS DOUBLE) / CAST(dch AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_top_4gram_char_q4,
        |  CAST(floor(CAST(COALESCE(dc5, 0) AS DOUBLE) / CAST(dch AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_dup_5gram_char_q4,
        |  CAST(floor(CAST(COALESCE(dc6, 0) AS DOUBLE) / CAST(dch AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_dup_6gram_char_q4,
        |  CAST(floor(CAST(COALESCE(dc7, 0) AS DOUBLE) / CAST(dch AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_dup_7gram_char_q4,
        |  CAST(floor(CAST(COALESCE(dc8, 0) AS DOUBLE) / CAST(dch AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_dup_8gram_char_q4,
        |  CAST(floor(CAST(COALESCE(dc9, 0) AS DOUBLE) / CAST(dch AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_dup_9gram_char_q4,
        |  CAST(floor(CAST(COALESCE(dc10, 0) AS DOUBLE) / CAST(dch AS DOUBLE)
        |    * 10000.0 + 0.5) AS BIGINT) AS gr_dup_10gram_char_q4
        |FROM docs
        |  JOIN dstat USING (doc_id) JOIN lstat USING (doc_id) JOIN pstat USING (doc_id)
        |  JOIN wstat USING (doc_id)
        |  JOIN tp2 USING (doc_id) JOIN tp3 USING (doc_id)
        |  JOIN tp4 USING (doc_id)
        |  LEFT JOIN s5 USING (doc_id) LEFT JOIN s6 USING (doc_id)
        |  LEFT JOIN s7 USING (doc_id) LEFT JOIN s8 USING (doc_id)
        |  LEFT JOIN s9 USING (doc_id) LEFT JOIN s10 USING (doc_id)""".stripMargin))),

    // The complete Gopher Table-A1 removal rule over fully synthesized
    // docs: a priority CASE plants one violation class per prime mod —
    // %7 word count, %11 dup n-grams, %13 bullet lines, %17 no stop
    // words, %19 symbol ratio, %23 ellipsis lines, %29 duplicate lines
    // — else a clean 64-word body; the oracle rebuilds the text and
    // replays every threshold as exact q4 integer comparisons
    Gate("gopher_filter", { (s, dir) =>
      val id = col("doc_id")
      val bodyWords = concat_ws(" ",
        org.apache.spark.sql.functions.transform(
          sequence(lit(1), lit(60)),
          i => concat(lit("wrd"), ((id * 31 + i) % 97).cast("string"))))
      val body = concat(bodyWords, lit(" the and of that"))
      val phrase6 = lit(
        ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
          "lambda mu ") * 6)
      val bullets = concat_ws("\n",
        org.apache.spark.sql.functions.transform(
          sequence(lit(1), lit(30)),
          j => concat(lit("•filler item"), (id + j).cast("string"))))
      val ellipsisLines = concat_ws("\n",
        org.apache.spark.sql.functions.transform(
          sequence(lit(1), lit(5)),
          j => concat(lit("more to come "), (id + j).cast("string"),
            lit("..."))))
      val dupLines = lit(
        List.fill(8)("repeated filler line here").mkString("\n"))
      val t2 = when(id % 7 === 0, lit("tiny doc the and"))
        .when(id % 11 === 0, concat(body, lit(" "), phrase6))
        .when(id % 13 === 0, concat(body, lit("\n"), bullets))
        .when(id % 17 === 0, bodyWords)
        .when(id % 19 === 0,
          concat(body, lit(" ### ### ### ### ### ### ### ### ### ###")))
        .when(id % 23 === 0, concat(body, lit("\n"), ellipsisLines))
        .when(id % 29 === 0, concat(body, lit("\n"), dupLines))
        .otherwise(body)
      new graft.text.GopherQualityFilter().setInputCol("__t2")
        .transform(tbl(s, dir, "documents").withColumn("__t2", t2))
        .select(col("doc_id"))
    }, oracle = Some(
      // rebuilds the gate's priority-CASE fixture, then applies every
      // Gopher Table-A1 threshold as exact q4 integer comparisons over
      // the shared repetition CTEs + structural counts
      ("""WITH docs AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 7 = 0 THEN 'tiny doc the and'
        |      WHEN doc_id % 11 = 0 THEN body || ' ' ||
        |        repeat('alpha beta gamma delta epsilon zeta eta ' ||
        |          'theta iota kappa lambda mu ', 6)
        |      WHEN doc_id % 13 = 0 THEN body || chr(10) ||
        |        array_to_string(list_transform(range(1, 31),
        |          j -> '•filler item' || CAST(doc_id + j AS VARCHAR)),
        |          chr(10))
        |      WHEN doc_id % 17 = 0 THEN bw
        |      WHEN doc_id % 19 = 0 THEN body ||
        |        ' ### ### ### ### ### ### ### ### ### ###'
        |      WHEN doc_id % 23 = 0 THEN body || chr(10) ||
        |        array_to_string(list_transform(range(1, 6),
        |          j -> 'more to come ' || CAST(doc_id + j AS VARCHAR)
        |            || '...'), chr(10))
        |      WHEN doc_id % 29 = 0 THEN body || chr(10) ||
        |        repeat('repeated filler line here' || chr(10), 7) ||
        |        'repeated filler line here'
        |      ELSE body END AS t2
        |  FROM (SELECT doc_id, bw, bw || ' the and of that' AS body
        |    FROM (SELECT doc_id,
        |      array_to_string(list_transform(range(1, 61),
        |        i -> 'wrd' || CAST((doc_id * 31 + i) % 97 AS VARCHAR)),
        |        ' ') AS bw
        |      FROM documents))),""".stripMargin + "\n" +
      GopherRepetitionCtes + ",\n" +
      s"""structc AS (
        |  SELECT d.doc_id,
        |    CAST(len(list_filter(k.t, w -> regexp_matches(w, '[A-Za-z]')))
        |      AS BIGINT) AS naw,
        |    CAST(length(d.t2) - length(regexp_replace(d.t2, '#', '', 'g'))
        |      + (length(d.t2) - length(replace(d.t2, '...', ''))) / 3
        |      + length(d.t2) - length(regexp_replace(d.t2, '…', '', 'g'))
        |      AS BIGINT) AS nsym,
        |    CAST(len(list_intersect(list_distinct(list_transform(k.t,
        |      w -> lower(w))), ['the', 'be', 'to', 'of', 'and', 'that',
        |      'have', 'with'])) AS BIGINT) AS nstop
        |  FROM docs d JOIN toks k USING (doc_id)),
        |linec AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(lns, l -> list_contains(
        |      ['-', '*', '•', '‣', '▶'], substr(l, 1, 1)))) AS BIGINT)
        |      AS nbl,
        |    CAST(len(list_filter(lns, l -> ends_with(l, '...')
        |      OR ends_with(l, '…'))) AS BIGINT) AS nel
        |  FROM (SELECT doc_id, list_filter(list_transform(
        |      string_split(t2, chr(10)), l -> trim(l)), l -> l <> '')
        |      AS lns
        |    FROM docs))
        |SELECT doc_id FROM docs
        |  JOIN dstat USING (doc_id) JOIN lstat USING (doc_id) JOIN pstat USING (doc_id)
        |  JOIN wstat USING (doc_id) JOIN structc USING (doc_id)
        |  JOIN linec USING (doc_id)
        |  JOIN tp2 USING (doc_id) JOIN tp3 USING (doc_id)
        |  JOIN tp4 USING (doc_id)
        |  LEFT JOIN s5 USING (doc_id) LEFT JOIN s6 USING (doc_id)
        |  LEFT JOIN s7 USING (doc_id) LEFT JOIN s8 USING (doc_id)
        |  LEFT JOIN s9 USING (doc_id) LEFT JOIN s10 USING (doc_id)
        |WHERE nw BETWEEN 50 AND 100000
        |  AND ${q4sql("twc", "nw")} BETWEEN 30000 AND 100000
        |  AND ${q4sql("nsym", "nw")} <= 1000
        |  AND ${q4sql("naw", "nw")} >= 8000
        |  AND ${q4sql("nbl", "nl")} <= 9000
        |  AND ${q4sql("nel", "nl")} <= 3000
        |  AND nstop >= 2
        |  AND ${q4sql("ldup", "nl")} <= 3000
        |  AND ${q4sql("pdup", "np")} <= 3000
        |  AND ${q4sql("ldupch", "dch")} <= 2000
        |  AND ${q4sql("pdupch", "dch")} <= 2000
        |  AND ${q4sql("tc2", "dch")} <= 2000
        |  AND ${q4sql("tc3", "dch")} <= 1800
        |  AND ${q4sql("tc4", "dch")} <= 1600
        |  AND ${q4sql("COALESCE(dc5, 0)", "dch")} <= 1500
        |  AND ${q4sql("COALESCE(dc6, 0)", "dch")} <= 1400
        |  AND ${q4sql("COALESCE(dc7, 0)", "dch")} <= 1300
        |  AND ${q4sql("COALESCE(dc8, 0)", "dch")} <= 1200
        |  AND ${q4sql("COALESCE(dc9, 0)", "dch")} <= 1100
        |  AND ${q4sql("COALESCE(dc10, 0)", "dch")} <= 1000""".stripMargin))),

    // deterministic domain-mixture sampling: md5-hex-prefix thresholds
    // per source (1.0/0.75/0.5/0.25/0.1, default 0.125) — the kept set is
    // a pure function of (doc_id, salt), independent of partitioning
    Gate("domain_mixture", { (s, dir) =>
      new DomainMixtureSampler().setIdCol("doc_id").setDomainCol("source")
        .setWeights(Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5,
          "src3" -> 0.25, "src4" -> 0.1))
        .setDefaultWeight(0.125).setSalt("mix")
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("source"))
    }, oracle = Some(
      // md5-hex-prefix thresholds: floor(w * 16^8) as 8-hex lowercase;
      // 'g' sorts above every hex digit => weight 1.0 keeps all
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8) <
        |  CASE source
        |    WHEN 'src0' THEN 'g'
        |    WHEN 'src1' THEN 'c0000000'
        |    WHEN 'src2' THEN '80000000'
        |    WHEN 'src3' THEN '40000000'
        |    WHEN 'src4' THEN '19999999'
        |    ELSE '20000000' END""".stripMargin)),

    // Temperature-scaled mixture over SKEWED derived domains (the
    // fixture's source column is uniform, which would degenerate to
    // plain fraction sampling): d0/d1/d2 get one doc_id%16 class each,
    // d3 the other thirteen — so the gate exercises both the n^tau
    // flattening and the rate-1 cap, and the oracle recomputes the
    // histogram, the normalization, and the hex thresholds generically
    // deterministic per-domain upsampling (repeat factors): d0 gets 2
    // copies + a deterministic half a third, d1 exactly 1, d2 a
    // deterministic quarter, d3 dropped — multi-epoch, identity,
    // fractional-downsample, and drop in one gate; the oracle replays
    // copies = floor(w) + (md5 < hexThreshold(frac(w))) and unnests
    // range(0, copies)
    Gate("domain_upsample", { (s, dir) =>
      val docs = tbl(s, dir, "documents").withColumn("dom",
        concat(lit("d"), least(pmod(col("doc_id"), lit(16)), lit(3))
          .cast("string")))
      new graft.text.DomainUpsampler().setIdCol("doc_id")
        .setDomainCol("dom").setSalt("up")
        .setWeights(Map("d0" -> 2.5, "d1" -> 1.0, "d2" -> 0.25, "d3" -> 0.0))
        .transform(docs)
        .select(col("doc_id"), col("epoch"))
    }, oracle = Some(
      // replays the temperature rule with the SAME operation order as the
      // Scala side: r = ((f * N) * (n^tau / z)) / n, threshold =
      // floor(r * 2^32) as 8-hex (floor == Long truncation for r >= 0)
      // repeat factors replayed exactly: floor copies + one fractional
      // copy under the shared md5/hexThreshold convention, then
      // range-unnest to 0-based epochs
      """WITH base AS (
        |  SELECT doc_id,
        |    'd' || CAST(LEAST(doc_id % 16, 3) AS VARCHAR) AS dom
        |  FROM documents),
        |w(dom, fl, thr) AS (VALUES
        |  ('d0', 2, '80000000'), ('d1', 1, '0'),
        |  ('d2', 0, '40000000'), ('d3', 0, '0')),
        |cp AS (
        |  SELECT b.doc_id,
        |    fl + CASE WHEN substr(md5(CAST(b.doc_id AS VARCHAR) || ':up'),
        |        1, 8) < w.thr THEN 1 ELSE 0 END AS copies
        |  FROM base b JOIN w ON b.dom = w.dom)
        |SELECT doc_id, CAST(u.e AS BIGINT) AS epoch
        |FROM cp, unnest(range(0, copies)) AS u(e)
        |WHERE copies > 0""".stripMargin)),

    Gate("temperature_mixture", { (s, dir) =>
      val docs = tbl(s, dir, "documents").withColumn("dom",
        concat(lit("d"), least(pmod(col("doc_id"), lit(16)), lit(3))
          .cast("string")))
      new graft.text.TemperatureSampler().setIdCol("doc_id")
        .setDomainCol("dom").setTemperature(0.5).setTargetFraction(0.5)
        .setSalt("tmix")
        .transform(docs)
        .select(col("doc_id"))
    }, oracle = Some(
      """WITH base AS (
        |  SELECT doc_id,
        |    'd' || CAST(LEAST(doc_id % 16, 3) AS VARCHAR) AS dom
        |  FROM documents),
        |cnt AS (SELECT dom, COUNT(*) AS n FROM base GROUP BY dom),
        |tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM cnt),
        |pw AS (SELECT dom, n,
        |    POWER(CAST(n AS DOUBLE), 0.5) AS p FROM cnt),
        |z AS (SELECT SUM(p) AS z FROM pw),
        |thr AS (SELECT dom,
        |    CASE WHEN 0.5 * tot.nn * (pw.p / z.z) / CAST(pw.n AS DOUBLE)
        |           >= 1.0 THEN 'g'
        |    ELSE printf('%08x', CAST(FLOOR(
        |      0.5 * tot.nn * (pw.p / z.z) / CAST(pw.n AS DOUBLE)
        |        * 4294967296.0) AS BIGINT)) END AS t
        |  FROM pw CROSS JOIN z CROSS JOIN tot)
        |SELECT b.doc_id FROM base b JOIN thr ON b.dom = thr.dom
        |WHERE substr(md5(CAST(b.doc_id AS VARCHAR) || ':tmix'), 1, 8)
        |  < thr.t""".stripMargin)),

    // Token-budget mixture over the same skewed derived domains, with a
    // synthetic per-doc token count: d0 capped under its total (a real
    // fractional rate), d1 budgeted far above it (degenerates to
    // keep-all), d2 budget 0 (dropped), d3 unlisted with the uncapped
    // default; the oracle recomputes the totals, the min(1, b/t) rate,
    // and the floor(r*2^32) hex threshold generically
    Gate("token_budget_mixture", { (s, dir) =>
      val docs = tbl(s, dir, "documents")
        .withColumn("dom", concat(lit("d"),
          least(pmod(col("doc_id"), lit(16)), lit(3)).cast("string")))
        .withColumn("n_toks", pmod(col("doc_id"), lit(97)) + 20)
      new graft.text.TokenBudgetSampler().setIdCol("doc_id")
        .setDomainCol("dom").setTokensCol("n_toks")
        .setBudgets(Map("d0" -> 4000L, "d1" -> 99999999L, "d2" -> 0L))
        .setDefaultBudget(-1L).setSalt("tok")
        .transform(docs)
        .select(col("doc_id"), col("dom"))
    }, oracle = Some(
      // replays the token-budget rate: per-domain token totals, rate =
      // min(1, budget/total) (uncapped budgets and zero-token domains
      // keep all), then the shared floor(r*2^32) 8-hex threshold rule
      """WITH base AS (
        |  SELECT doc_id,
        |    'd' || CAST(LEAST(doc_id % 16, 3) AS VARCHAR) AS dom,
        |    doc_id % 97 + 20 AS toks
        |  FROM documents),
        |tot AS (SELECT dom, SUM(toks) AS t FROM base GROUP BY dom),
        |bud AS (SELECT dom, t,
        |    CASE dom WHEN 'd0' THEN 4000 WHEN 'd1' THEN 99999999
        |      WHEN 'd2' THEN 0 ELSE -1 END AS b
        |  FROM tot),
        |thr AS (SELECT dom,
        |    CASE WHEN b < 0 OR t <= 0 THEN 'g'
        |      WHEN CAST(b AS DOUBLE) / CAST(t AS DOUBLE) >= 1.0 THEN 'g'
        |      ELSE printf('%08x', CAST(FLOOR(
        |        CAST(b AS DOUBLE) / CAST(t AS DOUBLE) * 4294967296.0)
        |        AS BIGINT)) END AS thr
        |  FROM bud)
        |SELECT b.doc_id, b.dom FROM base b JOIN thr ON b.dom = thr.dom
        |WHERE substr(md5(CAST(b.doc_id AS VARCHAR) || ':tok'), 1, 8)
        |  < thr.thr""".stripMargin)),

    // Deterministic disjoint splits: dyadic fractions make every
    // cumulative boundary exact in double, so the oracle replays the
    // thresholds as hex literals; the leftover 12.5% asserts the
    // explicit NULL (unassigned) band
    Gate("deterministic_split", { (s, dir) =>
      new graft.text.DeterministicSplitter().setIdCol("doc_id")
        .setSplits(Map("train" -> 0.75, "val" -> 0.125)).setSalt("sp")
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("split"))
    }, oracle = Some(
      // replays the split CASE: name-ascending cumulative boundaries
      // (train 0.75 -> c0000000, +val 0.125 -> e0000000), leftover NULL
      """SELECT doc_id,
        |  CASE WHEN k < 'c0000000' THEN 'train'
        |       WHEN k < 'e0000000' THEN 'val'
        |       ELSE NULL END AS split
        |FROM (SELECT doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR) || ':sp'), 1, 8) AS k
        |  FROM documents)""".stripMargin)),

    // exact mode: md5-ordered greedy prefix per domain under a hard
    // token cap (keep iff tokens BEFORE the doc are under budget);
    // d0 capped, d1 budget 0 (dropped), d2/d3 uncapped default; the
    // oracle replays the window cumulative sum on the same (md5, id)
    // order
    Gate("token_budget_exact", { (s, dir) =>
      val docs = tbl(s, dir, "documents")
        .withColumn("dom", concat(lit("d"),
          least(pmod(col("doc_id"), lit(16)), lit(3)).cast("string")))
        .withColumn("n_toks", pmod(col("doc_id"), lit(97)) + 20)
      new graft.text.TokenBudgetSampler().setIdCol("doc_id")
        .setDomainCol("dom").setTokensCol("n_toks")
        .setBudgets(Map("d0" -> 1000L, "d1" -> 0L))
        .setDefaultBudget(-1L).setSalt("tok").setExact(true)
        .transform(docs)
        .select(col("doc_id"), col("dom"))
    }, oracle = Some(
      // replays the greedy hash-ordered prefix: cumulative tokens BEFORE
      // each doc in (md5, id-string) order per domain, kept while under
      // the hard budget; negative budget = uncapped
      """WITH base AS (
        |  SELECT doc_id,
        |    'd' || CAST(LEAST(doc_id % 16, 3) AS VARCHAR) AS dom,
        |    doc_id % 97 + 20 AS toks
        |  FROM documents),
        |b AS (SELECT *,
        |    CASE dom WHEN 'd0' THEN 1000 WHEN 'd1' THEN 0 ELSE -1 END
        |      AS bud
        |  FROM base),
        |c AS (SELECT doc_id, dom, bud,
        |    SUM(toks) OVER (PARTITION BY dom
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':tok'), 1, 8),
        |        CAST(doc_id AS VARCHAR)) - toks AS before
        |  FROM b)
        |SELECT doc_id, dom FROM c WHERE bud < 0 OR before < bud""".stripMargin))
  )
}
