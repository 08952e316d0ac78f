package graft
package gates

import graft.text._
import graft.gates.GateSupport.tbl
import org.apache.spark.sql.functions._

/** Training-data-pipeline gates, ingest part:
  * decontamination, LM perplexity, archive and URL handling, text
  * repair, HTML extraction and the crawl round trips. */
object PipelineIngestGates {
  // shared between lm_perplexity and the ccnet_buckets wrapper
  private val lmPerplexitySql: String =
    """WITH tok AS (
          |  SELECT doc_id, unnest(list_filter(
          |    string_split_regex(lower(trim(text)), '\s+'),
          |    x -> x <> '')) AS t
          |  FROM documents),
          |cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
          |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nb FROM cnt),
          |vocab AS (SELECT t, c FROM (
          |    SELECT t, c, row_number() OVER (ORDER BY c DESC, t) AS rn
          |    FROM cnt) WHERE rn <= 16),
          |vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
          |    CAST(SUM(c) AS BIGINT) AS cv FROM vocab),
          |par AS (SELECT
          |    CAST(tot.nb AS DOUBLE) + 1.0 * (vs.v + 1) AS denom,
          |    CAST(tot.nb - vs.cv AS DOUBLE) + 1.0 AS unknum
          |  FROM tot CROSS JOIN vs),
          |sc AS (
          |  SELECT tok.doc_id, COUNT(*) AS n_tok,
          |    SUM(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS n_oov,
          |    SUM(-ln((CASE WHEN vocab.t IS NULL THEN par.unknum
          |      ELSE CAST(vocab.c AS DOUBLE) + 1.0 END) / par.denom)) AS s
          |  FROM tok LEFT JOIN vocab ON tok.t = vocab.t CROSS JOIN par
          |  GROUP BY tok.doc_id)
          |SELECT d.doc_id,
          |  CAST(COALESCE(sc.n_tok, 0) AS BIGINT) AS lm_n_tokens,
          |  CAST(COALESCE(sc.n_oov, 0) AS BIGINT) AS lm_n_oov,
          |  CAST(COALESCE(FLOOR(sc.s / sc.n_tok * 10000 + 0.5), 0) AS BIGINT)
          |    AS lm_ce_q4
          |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // benchmark decontamination: src0 plays the eval benchmark; every
    // other doc is flagged iff it shares a 4-word-gram with it (n=4
    // validated to give a nonzero, non-universal rate at all three sfs)
    Gate("decontaminate", { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      Decontamination.flag(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id")
        .select(col("doc_id"),
          col("is_contaminated").cast("int").as("is_contaminated"))
    }, oracle = Some(
      // 4-word-gram overlap with the src0 "benchmark"; docs with <4 words
      // generate no grams on either side (range() is empty, matching the
      // Spark-side sequence guard)
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    array_to_string(list_slice(t, i, i+3), ' ') AS g
        |  FROM (SELECT doc_id, source, t,
        |          unnest(range(1, len(t)-2)) AS i FROM toks)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        |cont AS (
        |  SELECT DISTINCT doc_id FROM grams
        |  WHERE source <> 'src0' AND g IN (SELECT g FROM bench))
        |SELECT d.doc_id,
        |  CAST(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
        |    AS is_contaminated
        |FROM documents d LEFT JOIN cont c USING (doc_id)
        |WHERE d.source <> 'src0'""".stripMargin)),

    // graded contamination: distinct 4-grams, benchmark hits, and the
    // q4 overlap fraction per doc — broadcast benchmark set, map-only
    Gate("decontaminate_frac", { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      Decontamination.overlapProfile(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id")
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          col("overlap_q4"))
    }, oracle = Some(
      // same gram construction; per-doc distinct grams vs the benchmark
      // set, q4 arithmetic in the PipelineFunctions.q4 operation order
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    array_to_string(list_slice(t, i, i+3), ' ') AS g
        |  FROM (SELECT doc_id, source, t,
        |          unnest(range(1, len(t)-2)) AS i FROM toks)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        |dg AS (SELECT DISTINCT doc_id, g FROM grams WHERE source <> 'src0'),
        |sc AS (SELECT doc_id, COUNT(*) AS n_grams,
        |    SUM(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END)
        |      AS n_hit
        |  FROM dg GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(sc.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(CASE WHEN COALESCE(sc.n_grams, 0) > 0 THEN
        |      FLOOR(CAST(sc.n_hit AS DOUBLE) / CAST(sc.n_grams AS DOUBLE)
        |        * 10000 + 0.5)
        |    ELSE 0 END AS BIGINT) AS overlap_q4
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |WHERE d.source <> 'src0'""".stripMargin)),

    // CCNet-style unigram-LM cross-entropy quality signal: fit counts
    // the corpus (one hash agg), vocabSize=16 of the fixture's 31 types
    // so the UNK path is exercised; transform is a broadcast-map narrow
    // pass. Gated on exact integers (n_tokens, n_oov) + the q4-scaled
    // cross-entropy (ln-ulp/summation drift is ~4 orders of magnitude
    // inside the q4 rounding step — see UnigramLM Scaladoc)
    Gate("lm_perplexity", { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      new graft.text.UnigramLM().setInputCol("text").setVocabSize(16)
        .fit(docs).transform(docs)
        .select(col("doc_id"), col("lm_n_tokens"), col("lm_n_oov"),
          col("lm_ce_q4"))
    }, oracle = Some(
      // unigram LM replayed in SQL: same tokenization as the Spark side,
      // top-16 vocab by (count desc, token asc), add-1.0 smoothing over
      // V+1 types with OOV pooled into UNK; q4-scaled cross-entropy
      lmPerplexitySql)),

    // CCNet §4.3 head/middle/tail split: LM cross-entropy terciles
    // (bucket 1 = head = lowest perplexity); the integer q4 score +
    // doc_id tiebreak give a total order, so NTILE agrees exactly.
    // The global window is the ORACLE-exact form; at corpus scale the
    // same split is two approxQuantile thresholds + a narrow filter
    // (ScoreSelector's approx mode — no global sort)
    Gate("ccnet_buckets", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(s, dir, "documents")
      new graft.text.UnigramLM().setInputCol("text").setVocabSize(16)
        .fit(docs).transform(docs)
        .filter(col("lm_n_tokens") > 0)
        .select(col("doc_id"), ntile(3).over(
          Window.orderBy(col("lm_ce_q4"), col("doc_id"))).as("bucket"))
    }, oracle = Some(
      // CCNet head/middle/tail by LM cross-entropy terciles: the lm
      // oracle runs as a CTE, NTILE over the integer-quantized score
      // with doc_id tiebreak (total order -> both engines agree)
      s"""WITH lm AS ($lmPerplexitySql)
         |SELECT doc_id, CAST(NTILE(3) OVER
         |  (ORDER BY lm_ce_q4, doc_id) AS INTEGER) AS bucket
         |FROM lm WHERE lm_n_tokens > 0""".stripMargin)),

    // WebDataset-style tar shard sink: every document's text is written
    // into byte-capped tar shards executor-side and read back through
    // the shard reader — the oracle is the identity, so any lost,
    // duplicated, truncated, or misnamed entry breaks the hash
    Gate("tar_roundtrip", { (s, dir) =>
      val staging = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_tar_${new java.io.File(dir).getName}").toString
      val docs = tbl(s, dir, "documents")
        .select(concat(col("doc_id").cast("string"), lit(".txt")).as("path"),
          encode(col("text"), "UTF-8").as("bytes"))
      graft.io.binary.TarShards.write(docs, staging,
        maxShardBytes = 1L << 20)
      graft.io.binary.TarShards.read(s, staging)
        .select(regexp_replace(col("name"), "\\.txt$", "")
          .cast("long").as("doc_id"),
          decode(col("bytes"), "UTF-8").as("text"))
    }, oracle = Some(
      "SELECT doc_id, text FROM documents")),

    // URL/domain filter on synthesized crawl URLs: doc_id picks the
    // domain (2 of 5 blocked, one spelled as a subdomain), every 7th
    // URL carries a blocked path term; host extraction + dot-boundary
    // suffix + substring rules all replayed in SQL
    Gate("url_filter", { (s, dir) =>
      val domains = array(lit("good.com"), lit("evil.com"), lit("fine.org"),
        lit("sub.bad.org"), lit("notevil.com"))
      val urls = tbl(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"),
          when(col("doc_id") % 2 === 0, lit("www.")).otherwise(lit("")),
          element_at(domains, (col("doc_id") % 5 + 1).cast("int")),
          lit("/page/"), col("doc_id").cast("string"),
          when(col("doc_id") % 7 === 0, lit("?ref=casino"))
            .otherwise(lit(""))).as("url"))
      new graft.text.UrlFilter().setInputCol("url")
        .setBlockedDomains(Seq("evil.com", "bad.org"))
        .setBlockedTerms(Seq("casino"))
        .transform(urls)
    }, oracle = Some(
      """WITH u AS (SELECT doc_id,
        |  'https://' ||
        |  CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END ||
        |  (['good.com','evil.com','fine.org','sub.bad.org','notevil.com'])
        |    [CAST(doc_id % 5 + 1 AS INTEGER)] ||
        |  '/page/' || CAST(doc_id AS VARCHAR) ||
        |  CASE WHEN doc_id % 7 = 0 THEN '?ref=casino' ELSE '' END AS url
        |  FROM documents),
        |h AS (SELECT doc_id, url,
        |  regexp_replace(regexp_extract(lower(url),
        |    '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1),
        |    '^www\.', '') AS host FROM u)
        |SELECT doc_id, url FROM h
        |WHERE NOT (host = 'evil.com' OR host LIKE '%.evil.com'
        |        OR host = 'bad.org' OR host LIKE '%.bad.org'
        |        OR lower(url) LIKE '%casino%')""".stripMargin)),

    // The UT1-scale blocklist-TABLE path: same multi-suffix URL
    // synthesis as registered_domain; the blocklist TABLE is collected
    // (bounded), packed as a broadcast CompactStringSet, and each row
    // probes its host's dot-boundary suffix chain truncated at the
    // registered domain — no join, no exchange (PlanSuite asserts
    // both); oracle replays the registered-domain extraction + a
    // NOT IN over the same normalized entries
    Gate("url_filter_table", { (s, dir) =>
      import s.implicits._
      val hosts = array(lit("news.bbc.co.uk"), lit("a.b.example.com"),
        lit("www.example.com"), lit("shop.com.au"), lit("sub.x.co.jp"),
        lit("foo.org"), lit("co.uk"))
      val urls = tbl(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"),
          element_at(hosts, (col("doc_id") % 7 + 1).cast("int")),
          lit("/p/"), col("doc_id").cast("string")).as("url"))
      val blocklist = Seq("example.com", "bbc.co.uk", "x.co.jp")
        .toDF("domain")
      new graft.text.UrlFilter().setInputCol("url")
        .setBlockedDomainTable(blocklist)
        .transform(urls)
    }, oracle = Some {
      val sufs = graft.text.UrlFilter.defaultMultiSuffixes
        .map(s => s"'$s'").mkString(", ")
      s"""WITH u AS (SELECT doc_id,
         |  'https://' ||
         |  (['news.bbc.co.uk','a.b.example.com','www.example.com',
         |    'shop.com.au','sub.x.co.jp','foo.org','co.uk'])
         |    [CAST(doc_id % 7 + 1 AS INTEGER)] ||
         |  '/p/' || CAST(doc_id AS VARCHAR) AS url FROM documents),
         |h AS (SELECT doc_id, url,
         |  regexp_replace(regexp_extract(lower(url),
         |    '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1),
         |    '^www\\.', '') AS host FROM u),
         |p AS (SELECT doc_id, url,
         |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS two,
         |  regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) AS three
         |  FROM h),
         |rd AS (SELECT doc_id, url,
         |  CASE WHEN two IN ($sufs) AND three <> '' THEN three
         |       ELSE two END AS domain FROM p)
         |SELECT doc_id, url FROM rd
         |WHERE domain NOT IN ('example.com', 'bbc.co.uk', 'x.co.jp')"""
        .stripMargin
    }),

    // allow mode (round 15): the same table becomes a curated-seed
    // ALLOWLIST — only documents whose host sits under a listed domain
    // survive (the OpenWebText-style pipeline)
    Gate("url_filter_allow", { (s, dir) =>
      import s.implicits._
      val hosts = array(lit("news.bbc.co.uk"), lit("a.b.example.com"),
        lit("www.example.com"), lit("shop.com.au"), lit("sub.x.co.jp"),
        lit("foo.org"), lit("co.uk"))
      val urls = tbl(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"),
          element_at(hosts, (col("doc_id") % 7 + 1).cast("int")),
          lit("/p/"), col("doc_id").cast("string")).as("url"))
      val allowlist = Seq("example.com", "bbc.co.uk", "x.co.jp")
        .toDF("domain")
      new graft.text.UrlFilter().setInputCol("url")
        .setBlockedDomainTable(allowlist).setTableMode("allow")
        .transform(urls)
    }, oracle = Some {
      // the same registered-domain chain, membership flipped to IN
      val sufs = graft.text.UrlFilter.defaultMultiSuffixes
        .map(s => s"'$s'").mkString(", ")
      s"""WITH u AS (SELECT doc_id,
         |  'https://' ||
         |  (['news.bbc.co.uk','a.b.example.com','www.example.com',
         |    'shop.com.au','sub.x.co.jp','foo.org','co.uk'])
         |    [CAST(doc_id % 7 + 1 AS INTEGER)] ||
         |  '/p/' || CAST(doc_id AS VARCHAR) AS url FROM documents),
         |h AS (SELECT doc_id, url,
         |  regexp_replace(regexp_extract(lower(url),
         |    '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1),
         |    '^www\\.', '') AS host FROM u),
         |p AS (SELECT doc_id, url,
         |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS two,
         |  regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) AS three
         |  FROM h),
         |rd AS (SELECT doc_id, url,
         |  CASE WHEN two IN ($sufs) AND three <> '' THEN three
         |       ELSE two END AS domain FROM p)
         |SELECT doc_id, url FROM rd
         |WHERE domain IN ('example.com', 'bbc.co.uk', 'x.co.jp')"""
        .stripMargin
    }),

    // Registered-domain extraction (the per-domain grouping key):
    // two-label tail, or three when the tail is a listed public
    // suffix; oracle replays both regexps and the suffix CASE
    Gate("registered_domain", { (s, dir) =>
      val hosts = array(lit("news.bbc.co.uk"), lit("a.b.example.com"),
        lit("www.example.com"), lit("shop.com.au"), lit("sub.x.co.jp"),
        lit("foo.org"), lit("co.uk"))
      val urls = tbl(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"),
          element_at(hosts, (col("doc_id") % 7 + 1).cast("int")),
          lit("/p/"), col("doc_id").cast("string")).as("url"))
      urls.select(col("doc_id"),
        graft.text.UrlFilter.registeredDomain(col("url")).as("domain"))
    }, oracle = Some {
      val sufs = graft.text.UrlFilter.defaultMultiSuffixes
        .map(s => s"'$s'").mkString(", ")
      s"""WITH u AS (SELECT doc_id,
         |  'https://' ||
         |  (['news.bbc.co.uk','a.b.example.com','www.example.com',
         |    'shop.com.au','sub.x.co.jp','foo.org','co.uk'])
         |    [CAST(doc_id % 7 + 1 AS INTEGER)] ||
         |  '/p/' || CAST(doc_id AS VARCHAR) AS url FROM documents),
         |h AS (SELECT doc_id,
         |  regexp_replace(regexp_extract(lower(url),
         |    '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1),
         |    '^www\\.', '') AS host FROM u),
         |p AS (SELECT doc_id,
         |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS two,
         |  regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) AS three
         |  FROM h)
         |SELECT doc_id,
         |  CASE WHEN two IN ($sufs) AND three <> '' THEN three
         |       ELSE two END AS domain FROM p""".stripMargin
    }),

    // RefinedWeb URL canonicalization: every crawl-duplicate decoration
    // (scheme/host case, www, userinfo, default vs routing port,
    // trailing slashes, tracking params mixed with kept params,
    // fragment, and a non-URL passthrough row class) synthesized from
    // doc_id; the oracle replays the whole normalize chain — every
    // regex in it matches at most once, so Spark replace-all and
    // DuckDB replace-first agree
    Gate("url_normalize", { (s, dir) =>
      val schemes = array(lit("https"), lit("HTTPS"), lit("http"),
        lit("HTTP"))
      val ports = array(lit(":443"), lit(":80"), lit(":8080"), lit(""))
      val hosts = array(lit("Example.com"), lit("site.org"),
        lit("News.co.uk"))
      val slashes = array(lit("/"), lit("//"), lit(""), lit(""), lit(""))
      val qsv = array(
        concat(lit("?utm_source=f&q="), col("doc_id").cast("string")),
        lit("?gclid=x"), lit("?a=1&fbclid=y&b=2"), lit(""))
      val messy = when(col("doc_id") % 11 === 10,
          concat(lit("doc "), col("doc_id").cast("string")))
        .otherwise(concat(
          element_at(schemes, (col("doc_id") % 4 + 1).cast("int")),
          lit("://"),
          when(col("doc_id") % 3 === 0, lit("user:pw@")).otherwise(lit("")),
          when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
          element_at(hosts, (col("doc_id") % 3 + 1).cast("int")),
          element_at(ports, (col("doc_id") % 4 + 1).cast("int")),
          lit("/Path/"), col("doc_id").cast("string"),
          element_at(slashes, (col("doc_id") % 5 + 1).cast("int")),
          element_at(qsv, (col("doc_id") % 7 % 4 + 1).cast("int")),
          when(col("doc_id") % 6 === 0, lit("#sec")).otherwise(lit(""))))
      val urls = tbl(s, dir, "documents")
        .select(col("doc_id"), messy.as("url"))
      new graft.text.UrlNormalizer().setInputCol("url")
        .transform(urls).select(col("doc_id"), col("url_norm"))
    }, oracle = Some(
      // full replay of UrlNormalizer.normalize: each regex matches at
      // most once (all anchored, or first-#-to-end), so DuckDB's
      // replace-first equals Spark's replace-all
      """WITH u AS (SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 10 THEN 'doc ' || CAST(doc_id AS VARCHAR)
        |  ELSE
        |    (['https','HTTPS','http','HTTP'])[CAST(doc_id % 4 + 1 AS INTEGER)]
        |    || '://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'user:pw@' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END ||
        |    (['Example.com','site.org','News.co.uk'])
        |      [CAST(doc_id % 3 + 1 AS INTEGER)] ||
        |    ([':443',':80',':8080',''])[CAST(doc_id % 4 + 1 AS INTEGER)] ||
        |    '/Path/' || CAST(doc_id AS VARCHAR) ||
        |    (['/','//','','',''])[CAST(doc_id % 5 + 1 AS INTEGER)] ||
        |    (['?utm_source=f&q=' || CAST(doc_id AS VARCHAR),
        |      '?gclid=x','?a=1&fbclid=y&b=2',''])
        |      [CAST(doc_id % 7 % 4 + 1 AS INTEGER)] ||
        |    CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END
        |  END AS url FROM documents),
        |n1 AS (SELECT doc_id, url,
        |  regexp_replace(url, '#.*', '') AS nofrag FROM u),
        |n2 AS (SELECT doc_id, url,
        |  lower(regexp_extract(nofrag,
        |    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(nofrag,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM n1),
        |n3 AS (SELECT doc_id, url, scheme,
        |  regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
        |  regexp_replace(rest, '^[^/?]*', '') AS tail FROM n2),
        |n4 AS (SELECT doc_id, url, scheme, tail,
        |  regexp_replace(lower(regexp_replace(hostport, '^[^@]*@', '')),
        |    '^www\.', '') AS h1 FROM n3),
        |n5 AS (SELECT doc_id, url, scheme, tail,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(h1, ':80$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(h1, ':443$', '')
        |       ELSE h1 END AS h2 FROM n4),
        |n6 AS (SELECT doc_id, url, scheme, h2,
        |  regexp_replace(regexp_extract(tail, '^([^?]*)', 1),
        |    '/+$', '') AS path,
        |  regexp_replace(tail, '^[^?]*', '') AS qs FROM n5),
        |n7 AS (SELECT doc_id, url, scheme, h2, path, qs,
        |  list_filter(string_split(substr(qs, 2), '&'),
        |    p -> NOT lower(regexp_extract(p, '^([^=]*)', 1)) IN
        |      ('utm_source','utm_medium','utm_campaign','utm_term',
        |       'utm_content','utm_id','gclid','fbclid','msclkid',
        |       'mc_cid','mc_eid','igshid','ref')) AS kept FROM n6),
        |n8 AS (SELECT doc_id, url, scheme, h2, path,
        |  CASE WHEN length(qs) <= 1 THEN ''
        |       WHEN len(kept) = 0 THEN ''
        |       ELSE '?' || array_to_string(kept, '&') END AS qnorm
        |  FROM n7)
        |SELECT doc_id,
        |  CASE WHEN scheme = '' THEN url
        |       ELSE scheme || '://' || h2 || path || qnorm END AS url_norm
        |FROM n8""".stripMargin)),

    // URL-level dedup (RefinedWeb's first dedup stage): ~50 distinct
    // pages each crawled many times under different decorations;
    // normalize collapses the decorations, ExactDeduplicator keeps the
    // smallest doc_id per canonical URL — rawKey mode, the recommended
    // operating point for URL keys (paths stay case-sensitive). The
    // oracle replays normalize + the min-id window over url_norm
    Gate("url_dedup", { (s, dir) =>
      val page = (col("doc_id") % 50).cast("string")
      val qsv = array(concat(lit("?q="), page),
        concat(lit("?q="), page, lit("&utm_source=f")),
        lit("?gclid=x"), lit(""))
      val url = concat(
        when(col("doc_id") % 4 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(col("doc_id") % 2 === 0, lit("www.")).otherwise(lit("")),
        lit("site.com"),
        when(col("doc_id") % 4 === 1, lit(":443")).otherwise(lit("")),
        lit("/page/"), page,
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        element_at(qsv, (col("doc_id") % 7 % 4 + 1).cast("int")),
        when(col("doc_id") % 6 === 0, lit("#top")).otherwise(lit("")))
      val crawls = tbl(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
      val normed = new graft.text.UrlNormalizer().setInputCol("url")
        .transform(crawls)
      new graft.dedup.ExactDeduplicator().setInputCol("url_norm")
        .setIdCol("doc_id").setRawKey(true).transform(normed)
        .select(col("doc_id"), col("url_norm"))
    }, oracle = Some(
      // normalize replay (same chain as url_normalize, on the grouped
      // fixture) + the deduplicator's min-id-per-group window
      """WITH u AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'https' END
        |  || '://' ||
        |  CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END ||
        |  'site.com' ||
        |  CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END ||
        |  '/page/' || CAST(doc_id % 50 AS VARCHAR) ||
        |  CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
        |  (['?q=' || CAST(doc_id % 50 AS VARCHAR),
        |    '?q=' || CAST(doc_id % 50 AS VARCHAR) || '&utm_source=f',
        |    '?gclid=x',''])[CAST(doc_id % 7 % 4 + 1 AS INTEGER)] ||
        |  CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END AS url
        |  FROM documents),
        |n1 AS (SELECT doc_id,
        |  regexp_replace(url, '#.*', '') AS nofrag FROM u),
        |n2 AS (SELECT doc_id,
        |  lower(regexp_extract(nofrag,
        |    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(nofrag,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM n1),
        |n3 AS (SELECT doc_id, scheme,
        |  regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
        |  regexp_replace(rest, '^[^/?]*', '') AS tail FROM n2),
        |n4 AS (SELECT doc_id, scheme, tail,
        |  regexp_replace(lower(regexp_replace(hostport, '^[^@]*@', '')),
        |    '^www\.', '') AS h1 FROM n3),
        |n5 AS (SELECT doc_id, scheme, tail,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(h1, ':80$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(h1, ':443$', '')
        |       ELSE h1 END AS h2 FROM n4),
        |n6 AS (SELECT doc_id, scheme, h2,
        |  regexp_replace(regexp_extract(tail, '^([^?]*)', 1),
        |    '/+$', '') AS path,
        |  regexp_replace(tail, '^[^?]*', '') AS qs FROM n5),
        |n7 AS (SELECT doc_id, scheme, h2, path, qs,
        |  list_filter(string_split(substr(qs, 2), '&'),
        |    p -> NOT lower(regexp_extract(p, '^([^=]*)', 1)) IN
        |      ('utm_source','utm_medium','utm_campaign','utm_term',
        |       'utm_content','utm_id','gclid','fbclid','msclkid',
        |       'mc_cid','mc_eid','igshid','ref')) AS kept FROM n6),
        |n8 AS (SELECT doc_id,
        |  scheme || '://' || h2 || path ||
        |  CASE WHEN length(qs) <= 1 THEN ''
        |       WHEN len(kept) = 0 THEN ''
        |       ELSE '?' || array_to_string(kept, '&') END AS url_norm
        |  FROM n7)
        |SELECT doc_id, url_norm FROM (
        |  SELECT doc_id, url_norm, row_number() OVER (
        |    PARTITION BY url_norm ORDER BY doc_id) AS rn FROM n8)
        |WHERE rn = 1""".stripMargin)),

    // SQ8 scalar quantization: per-dim corpus min/max -> uint8 codes;
    // the oracle recomputes the bounds and replays the exact
    // floor(+0.5) arithmetic chain double-for-double (float->double
    // widening is exact — the knn-oracle precedent)
    Gate("embedding_sq8", { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val m = new graft.sim.ScalarQuantizer().setInputCol("embedding")
        .fit(emb)
      m.transform(emb)
        .select(col("vec_id"), posexplode(col("codes"))
          .as(Seq("pos", "code")))
    }, oracle = Some(
      """WITH d AS (SELECT vec_id,
        |    CAST(unnest(embedding) AS DOUBLE) AS x,
        |    generate_subscripts(embedding, 1) AS p
        |  FROM embeddings),
        |st AS (SELECT p, min(x) AS mn, max(x) AS mx FROM d GROUP BY p)
        |SELECT d.vec_id, CAST(d.p - 1 AS INTEGER) AS pos,
        |  CAST(CASE WHEN mx = mn THEN 0
        |    ELSE least(255.0, greatest(0.0,
        |      floor((x - mn) * 255.0 / (mx - mn) + 0.5)))
        |  END AS INTEGER) AS code
        |FROM d JOIN st USING (p)""".stripMargin)),

    // Mojibake repair on text dirtied with the classic UTF-8-as-cp1252
    // sequences (derived, not hand-typed: MojibakeRepair.moji); the
    // oracle replays synthesis + the full replace chain, itself built
    // from the same published table
    Gate("mojibake_repair", { (s, dir) =>
      import graft.text.MojibakeRepair.moji
      val dirty = tbl(s, dir, "documents").select(col("doc_id"),
        concat(
          lit(s"It${moji("’")}s ${moji("“")}fine${moji("„")} " +
            s"caf${moji("é")} ${moji("—")} 20${moji("°")}C "),
          col("text"),
          lit(s" tail${moji("…")} ${moji("«")}q${moji("»")} " +
            s"${moji("ü")}ber")).as("dirty"))
      new graft.text.MojibakeRepair().setInputCol("dirty")
        .setOutputCol("repaired").transform(dirty)
        .select(col("doc_id"), col("repaired"))
    }, oracle = Some {
      import graft.text.MojibakeRepair.{moji, table}
      val synth = s"'It${moji("’")}s ${moji("“")}fine${moji("„")} " +
        s"caf${moji("é")} ${moji("—")} 20${moji("°")}C ' || text || " +
        s"' tail${moji("…")} ${moji("«")}q${moji("»")} ${moji("ü")}ber'"
      val chain = table.foldLeft(s"($synth)") { case (acc, (bad, good)) =>
        s"replace($acc, '$bad', '$good')"
      }
      s"SELECT doc_id, $chain AS repaired FROM documents"
    }),

    // Token-shard (.bin/.idx) roundtrip: docs tokenized against a
    // SQL-replayable corpus vocab (alphabetical rank of the canonical
    // words), doc_id rides as token 0 since the flat Megatron-style
    // format is purely positional; read back, explode, compare every
    // (doc_id, pos, token_id) triple
    Gate("tokenshard_roundtrip", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val staging = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_tok_${new java.io.File(dir).getName}").toString
      val words = tbl(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(
          graft.dedup.DedupFunctions.canonical(col("text")), " "))
          .as(Seq("pos", "w")))
        .filter(length(col("w")) > 0)
      // oracle plumbing, not the operator: the bounded corpus vocab
      // gets ids by alphabetical rank (replayable), real pipelines feed
      // tokenizer-model ids here
      val vocab = words.select("w").distinct()
        .withColumn("id", row_number().over(Window.orderBy("w")))
      val toks = words.join(vocab, "w")
        .groupBy("doc_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("id")))),
          e => e.getField("id")).as("ids"))
        .select(concat(array(col("doc_id").cast("int")), col("ids"))
          .as("tokens"))
      graft.io.binary.TokenShards.write(toks, staging,
        maxShardBytes = 1L << 20)
      graft.io.binary.TokenShards.read(s, staging)
        .select(element_at(col("tokens"), 1).cast("long").as("doc_id"),
          posexplode(slice(col("tokens"), 2, Int.MaxValue))
            .as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos"), col("token_id"))
    }, oracle = Some(
      """WITH base AS (SELECT doc_id,
        |  regexp_split_to_array(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS arr
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(arr) AS w,
        |    generate_subscripts(arr, 1) AS pos FROM base),
        |wf AS (SELECT * FROM w WHERE length(w) > 0),
        |v AS (SELECT w, ROW_NUMBER() OVER (ORDER BY w) AS id
        |      FROM (SELECT DISTINCT w FROM wf)),
        |ranked AS (SELECT doc_id, wf.pos, v.id,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wf.pos) AS dense
        |  FROM wf JOIN v USING (w))
        |SELECT doc_id, CAST(dense - 1 AS INTEGER) AS pos,
        |  CAST(id AS INTEGER) AS token_id FROM ranked""".stripMargin)),

    // HTML -> text extraction on pages synthesized around each doc's
    // text: head/script/style/comment subtrees must vanish, block tags
    // become single line breaks, entities decode, whitespace
    // normalizes — the oracle replays the published regexp chain
    // (HtmlTextExtractor.steps) step for step; patterns live in the
    // Java-regex ∩ RE2 common subset so both engines agree
    Gate("html_extract", { (s, dir) =>
      val page = tbl(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<html><head><title>T</title><script>if (1 < 2) { f(\"x\"); }" +
            "</script><style>p { color: red }</style></head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><!-- hidden --><p class=\"a\">"),
          col("text"),
          lit("</p><div>A&amp;B &lt;tag&gt;&nbsp;tail&#39;s</div>" +
            "</body></html>")).as("html"))
      new graft.text.HtmlTextExtractor().setInputCol("html")
        .setOutputCol("extracted").transform(page)
        .select(col("doc_id"), col("extracted"))
    }, oracle = Some(
      """WITH page AS (SELECT doc_id,
        |  '<html><head><title>T</title><script>if (1 < 2) { f("x"); }' ||
        |  '</script><style>p { color: red }</style></head><body><h1>Doc ' ||
        |  CAST(doc_id AS VARCHAR) ||
        |  '</h1><!-- hidden --><p class="a">' || text ||
        |  '</p><div>A&amp;B &lt;tag&gt;&nbsp;tail&#39;s</div>' ||
        |  '</body></html>' AS h FROM documents),
        |c1 AS (SELECT doc_id, regexp_replace(h, '(?s)<!--.*?-->', '', 'g') AS h FROM page),
        |c2 AS (SELECT doc_id, regexp_replace(h, '(?is)<script\b[^>]*>.*?</script>', '', 'g') AS h FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(h, '(?is)<style\b[^>]*>.*?</style>', '', 'g') AS h FROM c2),
        |c4 AS (SELECT doc_id, regexp_replace(h, '(?is)<noscript\b[^>]*>.*?</noscript>', '', 'g') AS h FROM c3),
        |c5 AS (SELECT doc_id, regexp_replace(h, '(?is)<head\b[^>]*>.*?</head>', '', 'g') AS h FROM c4),
        |c6 AS (SELECT doc_id, regexp_replace(h,
        |  '(?i)</?(p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|blockquote|section|article|header|footer|pre|form)\b[^>]{0,1000}>',
        |  chr(10), 'g') AS h FROM c5),
        |c7 AS (SELECT doc_id, regexp_replace(h, '<[^>]{1,1000}>', '', 'g') AS h FROM c6),
        |c8 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
        |  '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g') AS h FROM c7),
        |c9 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
        |  '&#34;', '"', 'g'), '&#39;', CHR(39), 'g'), '&apos;', CHR(39), 'g'), '&amp;', '&', 'g') AS h FROM c8),
        |c10 AS (SELECT doc_id, regexp_replace(h, '[ \t\r]+', ' ', 'g') AS h FROM c9),
        |c11 AS (SELECT doc_id, regexp_replace(h, ' ?\n ?', chr(10), 'g') AS h FROM c10),
        |c12 AS (SELECT doc_id, regexp_replace(h, '\n{2,}', chr(10), 'g') AS h FROM c11),
        |c13 AS (SELECT doc_id, regexp_replace(h, '^\n+', '', 'g') AS h FROM c12),
        |c14 AS (SELECT doc_id, regexp_replace(h, '\n+$', '', 'g') AS h FROM c13)
        |SELECT doc_id, trim(h) AS extracted FROM c14""".stripMargin)),

    // General numeric character references through the native linear
    // decode (numericEntities=true): planted refs cover hex/decimal,
    // the cp1252 C1 remap (&#146;), a supplementary plane (surrogate
    // pair emission), the three U+FFFD classes (NUL, lone surrogate,
    // out of range), a malformed ref that must survive verbatim, and
    // the amp-decodes-last double-escape contract — the oracle replays
    // each planted ref as a literal replacement at the decode's slot
    // in the chain (the computed-character step is exactly what the
    // regexp layer could not express; on the planted set it reduces to
    // literals both engines agree on)
    Gate("html_entities", { (s, dir) =>
      val page = tbl(s, dir, "documents").select(col("doc_id"),
        concat(lit("<html><body><p>Doc "), col("doc_id").cast("string"),
          lit(": A&#x2019;B em&#8212;dash caf&#233; it&#146;s " +
            "smile&#x1F600;! lone&#xD800;surr nul&#0;x big&#x110000;y " +
            "bad&#zz; esc&amp;#39;q "),
          col("text"), lit("</p></body></html>")).as("html"))
      new graft.text.HtmlTextExtractor().setInputCol("html")
        .setOutputCol("extracted").setNumericEntities(true)
        .transform(page)
        .select(col("doc_id"), col("extracted"))
    }, oracle = Some(
      """WITH page AS (SELECT doc_id,
        |  '<html><body><p>Doc ' || CAST(doc_id AS VARCHAR) ||
        |  ': A&#x2019;B em&#8212;dash caf&#233; it&#146;s ' ||
        |  'smile&#x1F600;! lone&#xD800;surr nul&#0;x big&#x110000;y ' ||
        |  'bad&#zz; esc&amp;#39;q ' || text ||
        |  '</p></body></html>' AS h FROM documents),
        |c1 AS (SELECT doc_id, regexp_replace(h, '(?s)<!--.*?-->', '', 'g') AS h FROM page),
        |c2 AS (SELECT doc_id, regexp_replace(h, '(?is)<script\b[^>]*>.*?</script>', '', 'g') AS h FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(h, '(?is)<style\b[^>]*>.*?</style>', '', 'g') AS h FROM c2),
        |c4 AS (SELECT doc_id, regexp_replace(h, '(?is)<noscript\b[^>]*>.*?</noscript>', '', 'g') AS h FROM c3),
        |c5 AS (SELECT doc_id, regexp_replace(h, '(?is)<head\b[^>]*>.*?</head>', '', 'g') AS h FROM c4),
        |c6 AS (SELECT doc_id, regexp_replace(h,
        |  '(?i)</?(p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|blockquote|section|article|header|footer|pre|form)\b[^>]{0,1000}>',
        |  chr(10), 'g') AS h FROM c5),
        |c7 AS (SELECT doc_id, regexp_replace(h, '<[^>]{1,1000}>', '', 'g') AS h FROM c6),
        |c8 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
        |  '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g') AS h FROM c7),
        |c9 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(h,
        |  '&#34;', '"', 'g'), '&#39;', CHR(39), 'g'), '&apos;', CHR(39), 'g') AS h FROM c8),
        |n1 AS (SELECT doc_id, replace(replace(replace(replace(h,
        |  '&#x2019;', '’'), '&#8212;', '—'), '&#233;', 'é'),
        |  '&#146;', '’') AS h FROM c9),
        |n2 AS (SELECT doc_id, replace(replace(replace(replace(h,
        |  '&#x1F600;', '😀'), '&#xD800;', '�'), '&#0;', '�'),
        |  '&#x110000;', '�') AS h FROM n1),
        |n3 AS (SELECT doc_id, regexp_replace(h, '&amp;', '&', 'g') AS h FROM n2),
        |c10 AS (SELECT doc_id, regexp_replace(h, '[ \t\r]+', ' ', 'g') AS h FROM n3),
        |c11 AS (SELECT doc_id, regexp_replace(h, ' ?\n ?', chr(10), 'g') AS h FROM c10),
        |c12 AS (SELECT doc_id, regexp_replace(h, '\n{2,}', chr(10), 'g') AS h FROM c11),
        |c13 AS (SELECT doc_id, regexp_replace(h, '^\n+', '', 'g') AS h FROM c12),
        |c14 AS (SELECT doc_id, regexp_replace(h, '\n+$', '', 'g') AS h FROM c13)
        |SELECT doc_id, trim(h) AS extracted FROM c14""".stripMargin)),

    // the crawl front end as ONE plan: synthesized HTML wrapped in an
    // HTTP response, framed into WARC segments, re-read through the
    // streaming parser, HTTP envelope stripped, HTML extracted — the
    // WARC+HTTP layers are roundtrip-transparent, so the oracle is
    // html_extract's replay verbatim
    Gate("crawl_e2e", { (s, dir) =>
      val staging = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_crawl_${new java.io.File(dir).getName}").toString
      val page = tbl(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<html><head><title>T</title><script>if (1 < 2) { f(\"x\"); }" +
            "</script><style>p { color: red }</style></head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><!-- hidden --><p class=\"a\">"),
          col("text"),
          lit("</p><div>A&amp;B &lt;tag&gt;&nbsp;tail&#39;s</div>" +
            "</body></html>")).as("html"))
      graft.io.warc.WarcFiles.write(
        page.select(
          concat(lit("urn:doc:"), col("doc_id").cast("string")).as("uri"),
          encode(concat(
            lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
            col("html")), "UTF-8").as("bytes")),
        staging, maxShardBytes = 1L << 20)
      graft.io.warc.WarcFiles.read(s, staging)
        .select(regexp_replace(col("uri"), "^urn:doc:", "")
          .cast("long").as("doc_id"),
          graft.text.HtmlTextExtractor.extract(
            decode(graft.io.warc.WarcFiles.httpBody(col("bytes")), "UTF-8"))
            .as("extracted"))
    }, oracle = Some(
      """WITH page AS (SELECT doc_id,
        |  '<html><head><title>T</title><script>if (1 < 2) { f("x"); }' ||
        |  '</script><style>p { color: red }</style></head><body><h1>Doc ' ||
        |  CAST(doc_id AS VARCHAR) ||
        |  '</h1><!-- hidden --><p class="a">' || text ||
        |  '</p><div>A&amp;B &lt;tag&gt;&nbsp;tail&#39;s</div>' ||
        |  '</body></html>' AS h FROM documents),
        |c1 AS (SELECT doc_id, regexp_replace(h, '(?s)<!--.*?-->', '', 'g') AS h FROM page),
        |c2 AS (SELECT doc_id, regexp_replace(h, '(?is)<script\b[^>]*>.*?</script>', '', 'g') AS h FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(h, '(?is)<style\b[^>]*>.*?</style>', '', 'g') AS h FROM c2),
        |c4 AS (SELECT doc_id, regexp_replace(h, '(?is)<noscript\b[^>]*>.*?</noscript>', '', 'g') AS h FROM c3),
        |c5 AS (SELECT doc_id, regexp_replace(h, '(?is)<head\b[^>]*>.*?</head>', '', 'g') AS h FROM c4),
        |c6 AS (SELECT doc_id, regexp_replace(h,
        |  '(?i)</?(p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|blockquote|section|article|header|footer|pre|form)\b[^>]{0,1000}>',
        |  chr(10), 'g') AS h FROM c5),
        |c7 AS (SELECT doc_id, regexp_replace(h, '<[^>]{1,1000}>', '', 'g') AS h FROM c6),
        |c8 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
        |  '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g') AS h FROM c7),
        |c9 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
        |  '&#34;', '"', 'g'), '&#39;', CHR(39), 'g'), '&apos;', CHR(39), 'g'), '&amp;', '&', 'g') AS h FROM c8),
        |c10 AS (SELECT doc_id, regexp_replace(h, '[ \t\r]+', ' ', 'g') AS h FROM c9),
        |c11 AS (SELECT doc_id, regexp_replace(h, ' ?\n ?', chr(10), 'g') AS h FROM c10),
        |c12 AS (SELECT doc_id, regexp_replace(h, '\n{2,}', chr(10), 'g') AS h FROM c11),
        |c13 AS (SELECT doc_id, regexp_replace(h, '^\n+', '', 'g') AS h FROM c12),
        |c14 AS (SELECT doc_id, regexp_replace(h, '\n+$', '', 'g') AS h FROM c13)
        |SELECT doc_id, trim(h) AS extracted FROM c14""".stripMargin)),

    // WARC/WET roundtrip: documents written as WET conversion records
    // (per-record gzip members, the Common Crawl layout) then re-read
    // through the streaming segment parser — text byte-exact, ids
    // recovered from the target URI
    Gate("warc_roundtrip", { (s, dir) =>
      val staging = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_warc_${new java.io.File(dir).getName}").toString
      val docs = tbl(s, dir, "documents")
        .select(concat(lit("urn:doc:"), col("doc_id").cast("string")).as("uri"),
          encode(col("text"), "UTF-8").as("bytes"))
      graft.io.warc.WarcFiles.write(docs, staging, maxShardBytes = 1L << 20)
      graft.io.warc.WarcFiles.read(s, staging)
        .filter(col("record_type") === "conversion")
        .select(regexp_replace(col("uri"), "^urn:doc:", "")
          .cast("long").as("doc_id"),
          decode(col("bytes"), "UTF-8").as("text"))
    }, oracle = Some(
      "SELECT doc_id, text FROM documents")),

    // within-doc repeated-line removal on synthesized pages (each doc
    // becomes line+line+tail+line); the oracle replays first-occurrence
    // order-preserving distinct with an indexed list_filter
    Gate("line_dedup_within", { (s, dir) =>
      val pages = tbl(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"), col("text"), lit("tail"), col("text"))
          .as("page"))
      new graft.text.WithinDocLineDeduplicator().setInputCol("page")
        .setOutputCol("dedup_text").transform(pages)
        .select(col("doc_id"), col("dedup_text"))
    }, oracle = Some(
      """WITH b AS (
        |  SELECT doc_id, string_split(
        |    text || chr(10) || text || chr(10) || 'tail' || chr(10) || text,
        |    chr(10)) AS ls
        |  FROM documents)
        |SELECT doc_id, array_to_string(
        |  list_filter(ls, (x, i) -> list_position(ls, x) = i),
        |  chr(10)) AS dedup_text
        |FROM b""".stripMargin))
  )
}
