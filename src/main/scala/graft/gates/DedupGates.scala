package graft
package gates

import graft.dedup._
import graft.gates.GateSupport.tbl
import org.apache.spark.sql.functions._

/** Dedup-family gates (LLM pipeline): exact, MinHash, SimHash,
  * n-gram, Bloom, embedding and incremental dedup, and soft dedup
  * (n-gram commonness reweighting). */
object DedupGates {
  val gates: Seq[Gate] = Seq(
    Gate("dedup_exact", { (s, dir) =>
      new ExactDeduplicator().setInputCol("text").setIdCol("doc_id")
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("text"))
    }, oracle = Some(
      """SELECT doc_id, text FROM (
        |  SELECT doc_id, text, row_number() OVER (
        |    PARTITION BY lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
        |    ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin)),

    Gate("dedup_minhash", { (s, dir) => // hash-gated vs exact Jaccard
      new MinHashDeduplicator().setInputCol("text").setIdCol("doc_id")
        .setThreshold(0.8)
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"))
    }, oracle = Some(
      // pair set by inverted index (see dedup_clusters note): |A∩B| counted
      // over shared distinct shingles, identical math to pairwise
      // list_intersect but ~100x cheaper (sf0.1: 1079 s -> 11 s, equal
      // results A/B-verified at all three sfs). Empty×empty pairs (union=0,
      // J=1 per the operator's 0/0=1 merge) come from the explicit branch.
      """WITH c AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[\t\n\x0B\f\r\x1C-\x1F \x{1680}\x{2000}-\x{2006}\x{2008}-\x{200A}\x{2028}\x{2029}\x{205F}\x{3000}]+'), t -> t <> '') AS toks
        |  FROM documents),
        |s AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(
        |      toks[CAST(i AS BIGINT):CAST(i AS BIGINT)+2], ' ')
        |      for i in range(1, len(toks) - 1)]) AS sh
        |  FROM c),
        |sz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM s),
        |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM s),
        |p AS (
        |  SELECT q.dst AS r FROM (
        |    SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
        |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) q
        |  JOIN sz sa ON sa.doc_id = q.src
        |  JOIN sz sb ON sb.doc_id = q.dst
        |  WHERE CAST(q.inter AS DOUBLE) / (sa.n + sb.n - q.inter) >= 0.8
        |  UNION ALL
        |  SELECT b.doc_id AS r FROM sz a JOIN sz b ON a.doc_id < b.doc_id
        |  WHERE a.n = 0 AND b.n = 0)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT r FROM p)""".stripMargin)),

    Gate("dedup_simhash", { (s, dir) => // rows-only
      new SimHashDeduplicator().setInputCol("text").setIdCol("doc_id")
        .setMaxHamming(3)
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"))
    }, oracle = None),

    // exactness gate in the driver's eyes (twin of the suite ground-truth
    // test): Manku pigeonhole candidates are exact for pairs within
    // maxHamming, so survivors must EQUAL the O(n²) brute-force Hamming
    // dedup computed from the same fingerprints — emitted as a symmetric
    // difference count whose oracle is the constant 0
    Gate("dedup_simhash_exact", { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val out = new SimHashDeduplicator().setInputCol("text")
        .setIdCol("doc_id").setMaxHamming(3)
        .transform(docs).select(col("doc_id").cast("long").as("id"))
      val fp = docs.select(col("doc_id").cast("long").as("id"),
        DedupFunctions.simHash64(col("text")).as("fp"))
      val dropped = fp.as("a").join(fp.as("b"),
          col("a.id") < col("b.id") &&
            DedupFunctions.hamming64(col("a.fp"), col("b.fp")) <= 3)
        .select(col("b.id").as("id")).distinct()
      val expected = fp.select("id").except(dropped)
      expected.except(out).unionAll(out.except(expected))
        .agg(count(lit(1)).as("mismatches"))
    }, oracle = Some(
      // Brute-force word-3-shingle Jaccard ground truth: a doc is dropped iff
      // a smaller-id doc reaches threshold. The LSH/posting-list candidate
      // paths are probabilistically full-recall at J>=0.8 and verified by
      // exact Jaccard, so their FINAL output must equal the exact pair
      // computation — a hash gate on end-to-end dedup correctness (empty
      // shingle sets count as J=1, mirroring the merge expression's 0/0=1).
      // Tokenization mirrors the native expression's Character.isWhitespace
      // split as an explicit literal class (RE2 \s is narrower); known
      // residual divergence: per-char Character.toLowerCase vs utf8proc
      // full case mapping differ on locale-special codepoints (e.g. U+0130).
      // exact-by-construction (Spark computes both sides; see the query)
      "SELECT CAST(0 AS BIGINT) AS mismatches")),

    Gate("dedup_ngram_jaccard", { (s, dir) => // hash-gated vs exact Jaccard
      new NGramJaccardDeduplicator().setInputCol("text").setIdCol("doc_id")
        .setThreshold(0.8)
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"))
    }, oracle = Some(
      // same exact ground truth, except docs with NO shingles are excluded
      // from the pair set: they index nothing, so the operator can never
      // produce them as candidates (unlike minhash, whose constant
      // empty-set signature pairs empties as exact duplicates) — with the
      // inverted index that exclusion is structural (a pair must SHARE a
      // shingle), so no empty branch exists here
      """WITH c AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[\t\n\x0B\f\r\x1C-\x1F \x{1680}\x{2000}-\x{2006}\x{2008}-\x{200A}\x{2028}\x{2029}\x{205F}\x{3000}]+'), t -> t <> '') AS toks
        |  FROM documents),
        |s AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(
        |      toks[CAST(i AS BIGINT):CAST(i AS BIGINT)+2], ' ')
        |      for i in range(1, len(toks) - 1)]) AS sh
        |  FROM c),
        |sz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM s),
        |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM s),
        |p AS (
        |  SELECT q.dst AS r FROM (
        |    SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
        |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) q
        |  JOIN sz sa ON sa.doc_id = q.src
        |  JOIN sz sb ON sb.doc_id = q.dst
        |  WHERE CAST(q.inter AS DOUBLE) / (sa.n + sb.n - q.inter) >= 0.8)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT r FROM p)""".stripMargin)),

    // priority-aware exact dedup: within each canonical-text group the
    // preferred (lowest-priority-value) source's copy survives, ties by
    // id — the "keep the curated copy, drop the crawl's" curation rule
    Gate("dedup_exact_priority", { (s, dir) =>
      val docs = tbl(s, dir, "documents")
        .withColumn("__prio", when(col("lang") === "en", 0).otherwise(1))
      new ExactDeduplicator().setInputCol("text").setIdCol("doc_id")
        .setPriorityCol("__prio")
        .transform(docs)
        .select(col("doc_id"), col("lang"))
    }, oracle = Some(
      // same canonical-text partition as dedup_exact; the window order is
      // (priority, id) instead of id
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
        |    ORDER BY CASE WHEN lang = 'en' THEN 0 ELSE 1 END, doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin)),

    // hash-gated vs an exact transitive closure: cluster_id = min doc id
    // reachable through exact-Jaccard >= 0.8 edges, recomputed by the
    // oracle as a recursive min-label propagation over the same pairs
    Gate("dedup_clusters", { (s, dir) =>
      new DuplicateClusterer().setInputCol("text").setIdCol("doc_id")
        .setThreshold(0.8)
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("cluster_id"))
    }, oracle = Some(
      // exact transitive ground truth for near-dup clustering: edges = exact
      // word-3-shingle Jaccard >= 0.8 pairs (the dedup_minhash tokenization,
      // both directions), components by recursive min-label propagation —
      // every doc collects the ids of all docs that reach it, MIN = the
      // component minimum, singletons label themselves. The pair set is
      // computed by inverted index (explode distinct shingles, count shared
      // grams per pair) — identical math to pairwise list_intersect
      // (|A∩B| over distinct sets) but only shingle-sharing pairs are ever
      // scored; the naive O(n²) list_intersect form measured >55 min at
      // sf0.1 vs 1.9 s for this one. Empty-shingle docs (union = 0) count
      // as J=1, mirroring the operator's 0/0=1 merge semantics, via the
      // explicit empty×empty edge branch. MATERIALIZED pins the edge CTE
      // against per-iteration recomputation inside the recursion.
      """WITH RECURSIVE c AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[\t\n\x0B\f\r\x1C-\x1F \x{1680}\x{2000}-\x{2006}\x{2008}-\x{200A}\x{2028}\x{2029}\x{205F}\x{3000}]+'), t -> t <> '') AS toks
        |  FROM documents),
        |s AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(
        |      toks[CAST(i AS BIGINT):CAST(i AS BIGINT)+2], ' ')
        |      for i in range(1, len(toks) - 1)]) AS sh
        |  FROM c),
        |sz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM s),
        |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM s),
        |e AS MATERIALIZED (
        |  SELECT p.src, p.dst FROM (
        |    SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
        |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sz sa ON sa.doc_id = p.src
        |  JOIN sz sb ON sb.doc_id = p.dst
        |  WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.8
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id FROM sz a JOIN sz b
        |    ON a.doc_id <> b.doc_id AND a.n = 0 AND b.n = 0),
        |lab AS (
        |  SELECT doc_id AS id, doc_id AS comp FROM documents
        |  UNION
        |  SELECT e.dst AS id, lab.comp AS comp
        |  FROM e JOIN lab ON e.src = lab.id)
        |SELECT id AS doc_id, MIN(comp) AS cluster_id
        |FROM lab GROUP BY id""".stripMargin)),

    // canonical-doc curation over the same clusters: keep the LONGEST
    // member per cluster (smallest doc_id on ties) + the multiplicity —
    // one partial-aggregating max_by, no window (skew note in Scaladoc)
    Gate("dedup_canonical", { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val clustered = new DuplicateClusterer().setInputCol("text")
        .setIdCol("doc_id").setThreshold(0.8).transform(docs)
      new graft.dedup.CanonicalSelector().setClusterCol("cluster_id")
        .setIdCol("doc_id").setScoreCol("__len")
        .transform(clustered.withColumn("__len", length(col("text"))))
        .select(col("cluster_id"), col("doc_id"), col("cluster_size"))
    }, oracle = Some(
      // same recursive min-label clustering, then argmax by
      // (length desc, doc_id asc) per cluster + the member count
      """WITH RECURSIVE c AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[\t\n\x0B\f\r\x1C-\x1F \x{1680}\x{2000}-\x{2006}\x{2008}-\x{200A}\x{2028}\x{2029}\x{205F}\x{3000}]+'), t -> t <> '') AS toks
        |  FROM documents),
        |s AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(
        |      toks[CAST(i AS BIGINT):CAST(i AS BIGINT)+2], ' ')
        |      for i in range(1, len(toks) - 1)]) AS sh
        |  FROM c),
        |sz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM s),
        |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM s),
        |e AS MATERIALIZED (
        |  SELECT p.src, p.dst FROM (
        |    SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
        |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sz sa ON sa.doc_id = p.src
        |  JOIN sz sb ON sb.doc_id = p.dst
        |  WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.8
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id FROM sz a JOIN sz b
        |    ON a.doc_id <> b.doc_id AND a.n = 0 AND b.n = 0),
        |lab AS (
        |  SELECT doc_id AS id, doc_id AS comp FROM documents
        |  UNION
        |  SELECT e.dst AS id, lab.comp AS comp
        |  FROM e JOIN lab ON e.src = lab.id),
        |cl AS (SELECT id AS doc_id, MIN(comp) AS cluster_id
        |  FROM lab GROUP BY id),
        |r AS (
        |  SELECT cl.cluster_id, cl.doc_id,
        |    row_number() OVER (PARTITION BY cl.cluster_id
        |      ORDER BY len(d.text) DESC, cl.doc_id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY cl.cluster_id) AS cluster_size
        |  FROM cl JOIN documents d USING (doc_id))
        |SELECT cluster_id, doc_id, CAST(cluster_size AS BIGINT) AS cluster_size
        |FROM r WHERE rn = 1""".stripMargin)),

    Gate("dedup_embedding", { (s, dir) => // hash-gated vs exact cosine
      new EmbeddingNearDupDeduplicator().setInputCol("embedding")
        .setIdCol("vec_id").setThreshold(0.95)
        .transform(tbl(s, dir, "embeddings"))
        .select(col("vec_id"))
    }, oracle = Some(
      // exact cosine ground truth for the hyperplane-LSH near-dup path; the
      // fixture's closest pair sits ~0.44 below the 0.95 threshold, so no
      // float-boundary ambiguity exists
      """WITH p AS (
        |  SELECT b.vec_id AS r,
        |    list_cosine_similarity(a.embedding, b.embedding) AS cs
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT r FROM p WHERE cs >= 0.95)""".stripMargin)),

    // Incremental snapshot-delta dedup: the fixture has no natural
    // cross-split duplicates at sf0.01, so the gate PLANTS them —
    // the batch is the doc_id%4==0 docs plus exact copies (shifted ids)
    // of corpus docs (%8==1, must all drop) and of batch docs (%8==4,
    // must collapse to the original) — all SQL-replayable unions
    Gate("dedup_incremental", { (s, dir) =>
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 4 === 0)
        .unionByName(docs.filter(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 8 === 4)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      new graft.dedup.IncrementalDeduplicator().setInputCol("text")
        .setIdCol("doc_id").setCorpus(corpus).transform(batch)
        .select(col("doc_id"))
    }, oracle = Some(
      """WITH canon AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS ct
        |  FROM documents),
        |corpus AS (SELECT DISTINCT ct FROM canon WHERE doc_id % 4 <> 0),
        |batch AS (
        |  SELECT doc_id, ct FROM canon WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, ct FROM canon WHERE doc_id % 8 = 1
        |  UNION ALL
        |  SELECT doc_id + 2000000, ct FROM canon WHERE doc_id % 8 = 4),
        |kept AS (SELECT ct, MIN(doc_id) AS doc_id FROM batch GROUP BY ct)
        |SELECT doc_id FROM kept
        |WHERE ct NOT IN (SELECT ct FROM corpus)""".stripMargin)),

    // Bloom-cascade incremental dedup, exact verify: the ~10-bit/doc
    // partitioned Bloom filter routes definitely-new docs past the
    // fingerprint index and exact-verifies the maybes — no false
    // negatives, so the output EQUALS IncrementalDeduplicator and the
    // same planted-split oracle hashes it
    Gate("dedup_bloom", { (s, dir) =>
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 4 === 0)
        .unionByName(docs.filter(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 8 === 4)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val fpIdx = graft.dedup.IncrementalDeduplicator
        .fingerprintIndex(corpus, "text")
      new graft.dedup.BloomIncrementalDeduplicator().setInputCol("text")
        .setIdCol("doc_id")
        .setBloomIndex(graft.dedup.BloomIncrementalDeduplicator
          .buildIndex(fpIdx, numBuckets = 32))
        .setCorpusIndex(fpIdx).transform(batch)
        .select(col("doc_id"))
    }, oracle = Some(
      // Bloom cascade (exact verify) provably equals IncrementalDeduplicator,
      // so both Bloom gates replay the identical planted-split SQL; the
      // approximate gate additionally pins that no false positive occurs
      // at its 40-bit budget on this corpus
      """WITH canon AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS ct
        |  FROM documents),
        |corpus AS (SELECT DISTINCT ct FROM canon WHERE doc_id % 4 <> 0),
        |batch AS (
        |  SELECT doc_id, ct FROM canon WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, ct FROM canon WHERE doc_id % 8 = 1
        |  UNION ALL
        |  SELECT doc_id + 2000000, ct FROM canon WHERE doc_id % 8 = 4),
        |kept AS (SELECT ct, MIN(doc_id) AS doc_id FROM batch GROUP BY ct)
        |SELECT doc_id FROM kept
        |WHERE ct NOT IN (SELECT ct FROM corpus)""".stripMargin)),

    // Approximate mode (index-only steady state, maybes dropped
    // outright): gated at a 40-bit/doc budget where the per-doc FP
    // probability is ~5e-9 — the filter's decisions are deterministic
    // (xxhash64 bit placement), so this pins "no false positive occurs
    // on this corpus", the analogous posture to the signature-mode
    // MinHash gate's probed threshold margin
    Gate("dedup_bloom_approx", { (s, dir) =>
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 4 === 0)
        .unionByName(docs.filter(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 8 === 4)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val fpIdx = graft.dedup.IncrementalDeduplicator
        .fingerprintIndex(corpus, "text")
      new graft.dedup.BloomIncrementalDeduplicator().setInputCol("text")
        .setIdCol("doc_id").setVerify("approximate")
        .setBloomIndex(graft.dedup.BloomIncrementalDeduplicator
          .buildIndex(fpIdx, numBuckets = 32, bitsPerDoc = 40))
        .transform(batch)
        .select(col("doc_id"))
    }, oracle = Some(
      """WITH canon AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS ct
        |  FROM documents),
        |corpus AS (SELECT DISTINCT ct FROM canon WHERE doc_id % 4 <> 0),
        |batch AS (
        |  SELECT doc_id, ct FROM canon WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, ct FROM canon WHERE doc_id % 8 = 1
        |  UNION ALL
        |  SELECT doc_id + 2000000, ct FROM canon WHERE doc_id % 8 = 4),
        |kept AS (SELECT ct, MIN(doc_id) AS doc_id FROM batch GROUP BY ct)
        |SELECT doc_id FROM kept
        |WHERE ct NOT IN (SELECT ct FROM corpus)""".stripMargin)),

    // Incremental NEAR-dup dedup (MinHash): same planted snapshot split
    // as dedup_incremental; the raw corpus is attached, so candidates
    // verify by exact shingle Jaccard and the oracle can replay
    // batch-vs-corpus decisions (signature verification, from the index
    // alone, is dedup_incremental_minhash_sig below). Natural
    // cross-split near-dups exist in the fixture (~25 pairs at sf0.01),
    // so this gate is not planted-only.
    Gate("dedup_incremental_minhash", { (s, dir) =>
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 4 === 0)
        .unionByName(docs.filter(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 8 === 4)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      new graft.dedup.IncrementalMinHashDeduplicator().setInputCol("text")
        .setIdCol("doc_id").setCorpus(corpus).transform(batch)
        .select(col("doc_id"))
    }, oracle = Some(
      // replay: exact shingle-3 Jaccard via inverted-index joins (the
      // dedup_minhash construction) over the planted snapshot split —
      // corpus check first, then the pairwise larger-id drop rule WITHIN
      // the corpus-cleared survivors; empty-shingle docs pair as exact
      // duplicates (union = 0 -> Jaccard 1), mirroring the operator
      """WITH c AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[\t\n\x0B\f\r\x1C-\x1F \x{1680}\x{2000}-\x{2006}\x{2008}-\x{200A}\x{2028}\x{2029}\x{205F}\x{3000}]+'), t -> t <> '') AS toks
        |  FROM documents),
        |s AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(
        |      toks[CAST(i AS BIGINT):CAST(i AS BIGINT)+2], ' ')
        |      for i in range(1, len(toks) - 1)]) AS sh
        |  FROM c),
        |corp AS (SELECT doc_id, sh FROM s WHERE doc_id % 4 <> 0),
        |bat AS (
        |  SELECT doc_id, sh FROM s WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, sh FROM s WHERE doc_id % 8 = 1
        |  UNION ALL
        |  SELECT doc_id + 2000000, sh FROM s WHERE doc_id % 8 = 4),
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
        |  WHERE CAST(q.inter AS DOUBLE) / (bsz.n + csz.n - q.inter) >= 0.8
        |  UNION ALL
        |  SELECT b.doc_id FROM bsz b
        |  WHERE b.n = 0 AND EXISTS (SELECT 1 FROM csz WHERE n = 0)),
        |surv AS (SELECT doc_id FROM bat
        |  WHERE doc_id NOT IN (SELECT r FROM cd)),
        |sex AS (SELECT doc_id, g FROM bex
        |  WHERE doc_id IN (SELECT doc_id FROM surv)),
        |ssz AS (SELECT doc_id, n FROM bsz
        |  WHERE doc_id IN (SELECT doc_id FROM surv)),
        |wd AS (
        |  SELECT q.dst AS r FROM (
        |    SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
        |    FROM sex a JOIN sex b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) q
        |  JOIN ssz sa ON sa.doc_id = q.src
        |  JOIN ssz sb ON sb.doc_id = q.dst
        |  WHERE CAST(q.inter AS DOUBLE) / (sa.n + sb.n - q.inter) >= 0.8
        |  UNION ALL
        |  SELECT b.doc_id FROM ssz a JOIN ssz b ON a.doc_id < b.doc_id
        |  WHERE a.n = 0 AND b.n = 0)
        |SELECT doc_id FROM surv
        |WHERE doc_id NOT IN (SELECT r FROM wd)""".stripMargin)),

    // Incremental NEAR-dup dedup in SIGNATURE mode — the steady-state
    // 100 TB path: corpus-side decisions come from the persistent
    // signature INDEX alone (setCorpusIndex; corpus text never reread),
    // similarity = the MinHash agreement estimate. The oracle replays
    // with exact Jaccard, which is sound because 0.85 sits in a wide gap
    // of BOTH spectra on this fixture (all three sf dirs: nearest exact
    // below/above = 0.8000/0.8889, nearest estimate = 0.7969/0.8984 —
    // every candidate pair ≥0.035 from the threshold on both measures,
    // zero estimate-vs-exact flips; numbers as recorded; DedupSuite
    // asserts the margin; the semdedup_exact margin convention)
    Gate("dedup_incremental_minhash_sig", { (s, dir) =>
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 4 === 0)
        .unionByName(docs.filter(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 8 === 4)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val index = graft.dedup.IncrementalMinHashDeduplicator
        .signatureIndex(corpus, "doc_id", "text", 3, 128)
      new graft.dedup.IncrementalMinHashDeduplicator().setInputCol("text")
        .setIdCol("doc_id").setThreshold(0.85)
        .setCorpusIndex(index).transform(batch)
        .select(col("doc_id"))
    }, oracle = Some(
      // signature-mode gate: same exact-Jaccard replay at 0.85 — sound
      // because the threshold sits in a measured gap of both the exact
      // and the estimate spectra (see the query's comment)
      """WITH c AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[\t\n\x0B\f\r\x1C-\x1F \x{1680}\x{2000}-\x{2006}\x{2008}-\x{200A}\x{2028}\x{2029}\x{205F}\x{3000}]+'), t -> t <> '') AS toks
        |  FROM documents),
        |s AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(
        |      toks[CAST(i AS BIGINT):CAST(i AS BIGINT)+2], ' ')
        |      for i in range(1, len(toks) - 1)]) AS sh
        |  FROM c),
        |corp AS (SELECT doc_id, sh FROM s WHERE doc_id % 4 <> 0),
        |bat AS (
        |  SELECT doc_id, sh FROM s WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, sh FROM s WHERE doc_id % 8 = 1
        |  UNION ALL
        |  SELECT doc_id + 2000000, sh FROM s WHERE doc_id % 8 = 4),
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
        |  WHERE b.n = 0 AND EXISTS (SELECT 1 FROM csz WHERE n = 0)),
        |surv AS (SELECT doc_id FROM bat
        |  WHERE doc_id NOT IN (SELECT r FROM cd)),
        |sex AS (SELECT doc_id, g FROM bex
        |  WHERE doc_id IN (SELECT doc_id FROM surv)),
        |ssz AS (SELECT doc_id, n FROM bsz
        |  WHERE doc_id IN (SELECT doc_id FROM surv)),
        |wd AS (
        |  SELECT q.dst AS r FROM (
        |    SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
        |    FROM sex a JOIN sex b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) q
        |  JOIN ssz sa ON sa.doc_id = q.src
        |  JOIN ssz sb ON sb.doc_id = q.dst
        |  WHERE CAST(q.inter AS DOUBLE) / (sa.n + sb.n - q.inter) >= 0.85
        |  UNION ALL
        |  SELECT b.doc_id FROM ssz a JOIN ssz b ON a.doc_id < b.doc_id
        |  WHERE a.n = 0 AND b.n = 0)
        |SELECT doc_id FROM surv
        |WHERE doc_id NOT IN (SELECT r FROM wd)""".stripMargin)),

    // SemDeDup at its real operating point (rows-only: the k-means
    // partition is not SQL-replayable); exactness companion below.
    // AUTO cluster count (corpus/targetClusterSize) — the scale knob the
    // paper uses, so the benched operating point is the one that holds
    // at 10x/100x instead of saturating the per-cluster cap
    Gate("semdedup", { (s, dir) =>
      // corpusSizeHint: the gate knows its fixture (the driver's three
      // sf dirs — a curation pipeline likewise knows the previous
      // stage's row count), so auto-k skips its count() pass; a rounded
      // hint is fine by the param contract (k only needs the order of
      // magnitude), and for these dirs the hint is exact, so k — and
      // the result — is unchanged. Unknown dirs fall back to counting.
      val hint = new java.io.File(dir).getName match {
        case "sf0.001" | "sf0.01" => 500L
        case "sf0.1" => 2000L
        case _ => 0L
      }
      new graft.dedup.SemDeDup().setInputCol("embedding").setIdCol("vec_id")
        .setThreshold(0.465).setKeepRule("centroidFar")
        .setTargetClusterSize(256).setCorpusSizeHint(hint)
        .transform(tbl(s, dir, "embeddings"))
        .select(col("vec_id"))
    }, oracle = None),

    // THE FULL EMBEDDING CHAIN as one plan (round 16): raw text ->
    // HashedEmbedder -> SemDeDup at its auto-k operating point — the
    // self-contained semantic-dedup recipe a 100 TB pipeline runs, with
    // no external model anywhere. Rows-only by design (the k-means
    // partition is not SQL-replayable); the chain's links have their own
    // hash gates (hashed_embedding exact-integer; semdedup_exact
    // all-pairs). This is also the SCALING.md chain row's handle.
    Gate("embed_chain", { (s, dir) =>
      val hint = new java.io.File(dir).getName match {
        case "sf0.001" | "sf0.01" => 500L
        case "sf0.1" => 5000L
        case _ => 0L
      }
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val emb = new graft.text.HashedEmbedder().setInputCol("text")
        .setDim(64).setSalt("chain").transform(docs)
      new graft.dedup.SemDeDup().setInputCol("embedding")
        .setIdCol("doc_id").setThreshold(0.9)
        .setTargetClusterSize(256).setCorpusSizeHint(hint)
        .transform(emb)
        .select(col("doc_id"))
    }, oracle = None),

    // THE LEARNED CHAIN (round 17): fit TrainedEmbedder (with the
    // fastText subword fallback) INSIDE the plan, embed, SemDeDup at
    // auto-k — the semantic-dedup recipe with in-library LEARNED
    // vectors, no external model anywhere. Runs over the planted
    // 5-class fixture, NOT the raw synthetic text: the raw corpus's
    // learned-vector cosine floor is 0.9861, as recorded in SCALING.md
    // (tiny shared vocabulary — every doc is every doc's near-dup, a
    // fixture property, so a chain over it is degenerate); the planted
    // pools give the space real topic structure (within-class ≈ 1,
    // cross-class low). Rows-only by design like embed_chain (the
    // k-means partition is not SQL-replayable); the links have their
    // own hash gates (trained_embedding / subword_embedding planted
    // recovery; semdedup_exact all-pairs). Also the SCALING.md
    // learned-chain row: fit (bounded) + transform (linear, zero
    // shuffle) + dedup in one wall.
    Gate("trained_embed_chain", { (s, dir) =>
      val hint = new java.io.File(dir).getName match {
        case "sf0.001" | "sf0.01" => 500L
        case "sf0.1" => 5000L
        case _ => 0L
      }
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("text", LanguageGateFixture.textCol)
      val m = new graft.text.TrainedEmbedder().setInputCol("text")
        .setDim(32).setMinCount(1).setMaxIter(1).setTrainSample(4096)
        .setSubwordBits(16)
        .fit(docs)
      new graft.dedup.SemDeDup().setInputCol("embedding")
        .setIdCol("doc_id").setThreshold(0.9)
        .setTargetClusterSize(256).setCorpusSizeHint(hint)
        .transform(m.transform(docs))
        .select(col("doc_id"))
    }, oracle = None),

    // SemDeDup exactness gate: nClusters=1 is the exhaustive setting —
    // every pair is compared, so the result IS exact pairwise cosine
    // dedup and the oracle replays it all-pairs (the knn_ivf_recall
    // pattern). 0.465 sits in a wide gap of the sf0.01 cosine spectrum
    // (nearest pairs 0.4666 / 0.4597), so cross-engine float drift at
    // the cutoff cannot flip a pair — and unlike the 0.95 embedding
    // gate, pairs DO exist above it, so the keep rule is exercised.
    Gate("semdedup_exact", { (s, dir) =>
      new graft.dedup.SemDeDup().setInputCol("embedding").setIdCol("vec_id")
        .setNClusters(1).setThreshold(0.465).setKeepRule("minId")
        .setMaxClusterSize(4096)
        .transform(tbl(s, dir, "embeddings"))
        .select(col("vec_id"))
    }, oracle = Some(
      """WITH p AS (
        |  SELECT b.vec_id AS r,
        |    list_cosine_similarity(a.embedding, b.embedding) AS cs
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT r FROM p WHERE cs >= 0.465)""".stripMargin)),

    // Incremental SEMANTIC dedup (round 17) — the snapshot-delta face
    // of SemDeDup, completing the incremental family (exact + MinHash
    // lexical faces exist since round 12): the quantizer fits ONCE on
    // the corpus, the corpus embedding index persists, and each batch
    // assigns + joins by cell — corpus work is never repeated per
    // snapshot. Auto-k operating point, rows-only (the cell partition
    // is not SQL-replayable); the exactness companion below replays
    // everything all-pairs.
    Gate("semdedup_incremental", { (s, dir) =>
      val hint = new java.io.File(dir).getName match {
        case "sf0.001" | "sf0.01" => 375L
        case "sf0.1" => 1500L
        case _ => 0L
      }
      val emb = tbl(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val batch = emb.filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") % 8 === 1)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
        .setIdCol("vec_id").setThreshold(0.465)
        .setTargetClusterSize(256).setCorpusSizeHint(hint)
        .fit(corpus)
      m.setCorpusIndex(m.indexCorpus(corpus))
        .transform(batch)
        .select(col("vec_id"))
    }, oracle = None),

    // the incremental semantic exactness companion (the semdedup_exact
    // pattern): nClusters=1 compares every batch-vs-corpus pair and the
    // within-batch pass is exhaustive too, so the whole decision
    // replays all-pairs in SQL. 0.465 sits in the measured cosine-
    // spectrum gap (nearest pairs 0.4666/0.4597), offset copies of
    // corpus rows are identical vectors (cosine 1 — must drop), and
    // the corpus-always-survives rule means only batch ids appear
    Gate("semdedup_incremental_exact", { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val batch = emb.filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") % 8 === 1)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      val m = new graft.dedup.IncrementalSemDeDup().setInputCol("embedding")
        .setIdCol("vec_id").setThreshold(0.465).setNClusters(1)
        .fit(corpus)
      m.setCorpusIndex(m.indexCorpus(corpus))
        .setMaxClusterSize(4096)
        .transform(batch)
        .select(col("vec_id"))
    }, oracle = Some(
      // all-pairs replay of the incremental semantic decisions: a batch
      // row drops on any corpus pair at cosine >= 0.465 (the corpus copy
      // always survives), then the surviving batch near-dedups against
      // itself with the minId rule — the semdedup_exact arithmetic on
      // both legs (DuckDB orders NaN above every number like Spark, so
      // zero-norm pairs agree too)
      """WITH corp AS MATERIALIZED (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 0),
        |bat AS MATERIALIZED (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding
        |  FROM embeddings WHERE vec_id % 8 = 1),
        |cd AS (
        |  SELECT DISTINCT b.vec_id AS r FROM bat b, corp c
        |  WHERE list_cosine_similarity(b.embedding, c.embedding) >= 0.465),
        |surv AS MATERIALIZED (
        |  SELECT vec_id, embedding FROM bat
        |  WHERE vec_id NOT IN (SELECT r FROM cd)),
        |wd AS (
        |  SELECT DISTINCT b.vec_id AS r FROM surv a, surv b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.embedding, b.embedding) >= 0.465)
        |SELECT vec_id FROM surv
        |WHERE vec_id NOT IN (SELECT r FROM wd)""".stripMargin)),

    // ---- soft dedup (n-gram commonness reweighting) ------------------

    // integer sufficient statistics only (distinct-3-gram count and the
    // sum of their document frequencies) — the weight itself is a pure
    // function of per-gram dfs and stays suite-pinned, so no
    // cross-engine float sum ordering ever reaches the hash gate
    Gate("soft_dedup", { (s, dir) =>
      new graft.text.SoftDeduplicator().setInputCol("text")
        .setIdCol("doc_id").setN(3)
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("sd_n_grams"), col("sd_sum_df"))
    }, oracle = Some(
      // distinct-3-gram document frequencies, integer statistics only
      // (the sd_weight double is a pure function of the per-gram dfs and
      // stays suite-pinned off the hash gate)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
        |    AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(t, i, i+2), ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t)-1)) AS i
        |        FROM toks)),
        |dfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
        |sc AS (SELECT doc_id, COUNT(*) AS n_grams, SUM(df) AS sum_df
        |  FROM grams JOIN dfreq USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS sd_n_grams,
        |  CAST(COALESCE(sc.sum_df, 0) AS BIGINT) AS sd_sum_df
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin)),

    // the 100 TB path: CountMinSketch dfs, map-only weight pass. At the
    // sf0.01 correctness fixture the 5x2^20 sketch is collision-free
    // (expected all-5-row collisions ~G·(G/w)^5 ≈ 1e-3, verified, and
    // deterministic for fixed data+seed), so the estimates ARE the exact
    // dfs and the exact-mode oracle applies verbatim (the
    // dedup_bloom_approx pattern). Unbounded on purpose: this gate is
    // also the SCALING.md handle for the map-only path
    Gate("soft_dedup_sketch", { (s, dir) =>
      new graft.text.SoftDeduplicator().setInputCol("text")
        .setIdCol("doc_id").setN(3).setMode("sketch")
        .transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("sd_n_grams"), col("sd_sum_df"))
    }, oracle = Some(
      // collision-free sketch == exact dfs at the correctness fixture, so
      // the exact SQL applies verbatim (the dedup_bloom_approx pattern)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
        |    AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(t, i, i+2), ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t)-1)) AS i
        |        FROM toks)),
        |dfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
        |sc AS (SELECT doc_id, COUNT(*) AS n_grams, SUM(df) AS sum_df
        |  FROM grams JOIN dfreq USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS sd_n_grams,
        |  CAST(COALESCE(sc.sum_df, 0) AS BIGINT) AS sd_sum_df
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin))
  )
}
