package graft
package catalog

import org.apache.spark.sql.functions._

import graft.pipeline.{Decontaminate, Dedup, Linkage, Sampling}
import Support._

/** Deduplication and decontamination ([[graft.pipeline.Dedup]],
  * [[graft.pipeline.Decontaminate]], [[graft.pipeline.Linkage]]): exact,
  * MinHash, SimHash, span and component queries. */
private[catalog] object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q20_dedup_exact", (s, d) => {
      Dedup.exactRepresentatives(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("dup_count"))
        .orderBy("doc_id")
    },
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin),

    QuerySpec("q71_dedup_keep_best", (s, d) => {
      // Exact dedup that keeps the BEST copy, not the first seen: each doc
      // is planted as 1-3 copies (copy k of doc d has id 10d+k and score
      // (7d+31k) mod 50); per identical-text group the survivor is the
      // score-argmax, ties to the lowest id. The oracle replays the same
      // planted formulas and window pick.
      val docs = t(s, d, "documents")
      val corpus = docs
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), (col("doc_id") % 3).cast("int"))).as("k"))
        .select((col("doc_id") * 10 + col("k")).as("copy_id"), col("text"),
          ((col("doc_id") * 7 + col("k") * 31) % 50).as("score"))
      Dedup.bestExactRepresentatives(corpus, "copy_id", "text", col("score"))
        .select(col("copy_id"), col("score"), col("dup_count"))
        .orderBy("copy_id")
    },
      // q71: replay the planted copy formulas, then the same
      // (score desc, id asc) window pick per md5(text) group.
      """WITH c AS (
        |  SELECT doc_id * 10 + u.k AS copy_id, text,
        |         (doc_id * 7 + u.k * 31) % 50 AS score
        |  FROM documents, UNNEST(range(1 + doc_id % 3)) AS u(k)),
        |r AS (
        |  SELECT copy_id, score,
        |    count(*) OVER (PARTITION BY md5(text)) AS dup_count,
        |    row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY score DESC, copy_id) AS rn
        |  FROM c)
        |SELECT CAST(copy_id AS BIGINT) AS copy_id,
        |       CAST(score AS BIGINT) AS score,
        |       CAST(dup_count AS BIGINT) AS dup_count
        |FROM r WHERE rn = 1 ORDER BY copy_id""".stripMargin),

    QuerySpec("q74_incremental_dedup", (s, d) => {
      // Incremental ingestion: the curated corpus holds every doc_id%3==0
      // document; the incoming batch replays ALL documents as two copies
      // each (ids 2d and 2d+1). Only content absent from the corpus
      // survives the digest anti-join, then the batch dedups internally
      // (min copy id, batch-side dup_count). The corpus contributes only
      // distinct digests — its text never crosses the wire.
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(1))).as("k"))
        .select((col("doc_id") * 2 + col("k")).as("copy_id"), col("text"))
      Dedup.incrementalExactDedup(batch, corpus, "copy_id", "text")
        .select(col("copy_id"), col("dup_count"))
        .orderBy("copy_id")
    },
      // q74: replay the planted corpus/batch split and the digest anti-join;
      // the explicit IS NULL arm mirrors Spark left_anti semantics (a null
      // key never matches, so null-text rows survive) against NOT IN's
      // three-valued logic.
      """WITH corpus AS (
        |  SELECT DISTINCT md5(text) AS dg FROM documents WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT doc_id * 2 + u.k AS copy_id, md5(text) AS dg
        |  FROM documents, UNNEST([0, 1]) AS u(k)),
        |fresh AS (
        |  SELECT copy_id, dg FROM batch
        |  WHERE dg IS NULL
        |     OR dg NOT IN (SELECT dg FROM corpus WHERE dg IS NOT NULL)),
        |r AS (
        |  SELECT copy_id,
        |    count(*) OVER (PARTITION BY dg) AS dup_count,
        |    row_number() OVER (PARTITION BY dg ORDER BY copy_id) AS rn
        |  FROM fresh)
        |SELECT CAST(copy_id AS BIGINT) AS copy_id,
        |       CAST(dup_count AS BIGINT) AS dup_count
        |FROM r WHERE rn = 1 ORDER BY copy_id""".stripMargin),

    QuerySpec("q50_decontaminate", (s, d) => {
      // Benchmark decontamination: the "eval set" is every doc with
      // doc_id % 37 == 0; any doc sharing a 5-word gram with it (the
      // corpus's planted near/exact dups, and the eval docs themselves) is
      // dropped. The eval gram hashes collect once into a sorted table
      // that rides to every task; the corpus pays one map-side membership
      // test per doc — zero shuffles, zero joins. Equals the string-gram
      // oracle absent a 64-bit collision (~1e-9 here). No final orderBy:
      // the gate is order-insensitive and a range sort's sampling pass
      // would re-execute the filter.
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
      Decontaminate.decontaminate(docs, "doc_id", "text", bench, "text", 5)
        .select(col("doc_id"), col("source"))
    },
      raw"""WITH ${gramsCtes()},
        |bad AS (
        |  SELECT DISTINCT doc_id FROM g
        |  WHERE gram IN (SELECT gram FROM g WHERE doc_id % 37 = 0))
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY d.doc_id""".stripMargin),

    QuerySpec("q70_bloom_decontaminate", (s, d) => {
      // Bloom-filter decontamination: same eval split and 5-gram window as
      // q50, but membership through a FIXED 16 KiB md5-bit Bloom bitmap
      // (m=2^17, k=4) instead of the exact gram table — constant state no
      // matter how large the eval set grows; errors only over-drop. The
      // oracle replays the exact bit arithmetic, false positives included.
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
      Decontaminate.bloomDecontaminate(docs, "text", bench, "text", 5)
        .select(col("doc_id"), col("source"))
    },
      // q70: exact replay of the Bloom bit arithmetic — position j of a gram
      // is md5 hex chars (8j+1)..(8j+8) mod 2^17; the eval split's positions
      // form the bit set, and a doc is dropped iff some gram finds all 4 of
      // its positions present (cross-gram bit collisions — the Bloom's false
      // positives — drop docs in BOTH engines identically).
      raw"""WITH ${gramsCtes()},
        |pos AS (
        |  SELECT doc_id, gram, r.j,
        |    ('0x' || substr(md5(gram), 1 + 8 * r.j, 8))::BIGINT % 131072 AS p
        |  FROM g, range(4) AS r(j)),
        |bits AS (SELECT DISTINCT p FROM pos WHERE doc_id % 37 = 0),
        |hit AS (
        |  SELECT doc_id FROM pos
        |  WHERE p IN (SELECT p FROM bits)
        |  GROUP BY doc_id, gram
        |  HAVING count(*) = 4)
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE d.doc_id NOT IN (SELECT DISTINCT doc_id FROM hit)
        |ORDER BY d.doc_id""".stripMargin),

    // Pair/topk queries carry no final orderBy: the correctness gate is
    // row-order-insensitive, and a global sort on a large pair result forces
    // a range exchange whose sampling pass re-executes the pipeline (~2x).
    QuerySpec("q24_minhash_pairs", (s, d) => {
      Dedup.minHashDedupPairs(t(s, d, "documents"), "doc_id", "text", 0.9)
    },
      """WITH t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |  len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("q25_ngram_jaccard_pairs", (s, d) => {
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", "source", 3, 0.3)
    },
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
        |    ELSE list_distinct(list_transform(
        |      range(len(string_split_regex(trim(text), '\s+')) - 2),
        |      i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i + 1, i + 3), ' ')))
        |    END AS grams
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0 THEN 0.0
        |       ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |            len(list_distinct(list_concat(a.grams, b.grams))) END AS jaccard
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0 THEN 0.0
        |           ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |                len(list_distinct(list_concat(a.grams, b.grams))) END >= 0.3
        |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("q77_containment_pairs", (s, d) => {
      // Asymmetric containment (|A∩B|/|A| >= 0.8): finds docs mostly
      // embedded in a longer doc — the quote/snippet/partial-copy class a
      // symmetric Jaccard pass structurally misses. Every 17th doc with
      // >= 12 tokens plants a leading-12-token snippet (id + 10^7, same
      // source); the operator must recover each snippet's containers.
      // Probe-side prefix filter, full-block gram index, exact
      // integer-overlap verification.
      val docs = t(s, d, "documents")
      val tokens = split(trim(col("text")), "\\s+")
      val snippets = docs
        .filter(col("doc_id") % 17 === 0 && size(tokens) >= 12)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          array_join(slice(tokens, 1, 12), " ").as("text"), col("source"))
      Dedup.containmentPairs(docs.select("doc_id", "text", "source").union(snippets),
        "doc_id", "text", "source", 3, 0.8)
    },
      // q77: same gram construction as q25, asymmetric measure — intersection
      // over |A|'s distinct grams, every ordered (a, b) pair within a block;
      // the planted leading-12-token snippets replayed verbatim.
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id,
        |    array_to_string(list_slice(string_split_regex(trim(text), '\s+'), 1, 12), ' ') AS text,
        |    source
        |  FROM documents
        |  WHERE doc_id % 17 = 0 AND len(string_split_regex(trim(text), '\s+')) >= 12),
        |t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
        |    ELSE list_distinct(list_transform(
        |      range(len(string_split_regex(trim(text), '\s+')) - 2),
        |      i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i + 1, i + 3), ' ')))
        |    END AS grams
        |  FROM corpus)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / len(a.grams)
        |    AS containment
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id <> b.doc_id
        |WHERE len(a.grams) > 0
        |  AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / len(a.grams) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("q46_dup_components", (s, d) => {
      // Pairs → duplicate clusters: large-star/small-star connected
      // components over the (exact-verified) MinHash pair graph. One row per
      // paired doc; component = min doc_id reachable. `id = component`
      // selects the cluster representative a dedup keeps. The table is the
      // dedup chain's STORED ARTIFACT (built once per sf dir) — q121/q122/
      // q150 serve from it, the pipeline shape where cluster analytics
      // never re-mine the pair graph.
      dupComponents(s, d)
    },
      raw"""WITH RECURSIVE $jaccardClosureCtes
        |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin),

    QuerySpec("q26_simhash_pairs", (s, d) => {
      // md5 token-hash family: same collapse/pigeonhole/emission machinery
      // as the xxh64 default, but every sketch is recomputable in DuckDB, so
      // the driver hash-checks the operator's full output (round 8; this
      // was rows-only while the sketch was xxhash64-seeded).
      Dedup.simHashDedupPairs(t(s, d, "documents"), "doc_id", "text", 3,
        tokenHash = "md5")
    },
      // Full recomputation of q26's md5-token SimHash pairs (round 8): rebuild
      // every 64-bit sketch from md5 hex slices (bit-vote per position, split
      // into two 32-bit halves so no sign-bit arithmetic is needed), then
      // all-pairs hamming ≤ 3 — the exact answer the 4-chunk pigeonhole is
      // guaranteed to produce at radius ≤ 3.
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS t
        |  FROM d WHERE len(trim(text)) > 0),
        |th AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(t), 1, 8))::BIGINT AS h_hi,
        |    ('0x' || substr(md5(t), 9, 8))::BIGINT AS h_lo
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, bb,
        |    count(*) FILTER (WHERE (CASE WHEN bb >= 32 THEN (h_hi >> (bb - 32)) ELSE (h_lo >> bb) END) & 1 = 1) AS setc,
        |    count(*) AS ntok
        |  FROM th, (SELECT unnest(range(64)) AS bb)
        |  GROUP BY doc_id, bb),
        |sk0 AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN 2 * setc > ntok AND bb >= 32 THEN (1::BIGINT << (bb - 32)) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN 2 * setc > ntok AND bb < 32 THEN (1::BIGINT << bb) ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id),
        |sk AS (
        |  SELECT d.doc_id, coalesce(s.hi, 0) AS hi, coalesce(s.lo, 0) AS lo
        |  FROM d LEFT JOIN sk0 s USING (doc_id))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
        |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin),

    QuerySpec("q36_simhash_dup_exact", (s, d) => {
      Dedup.simHashExactDupPairs(t(s, d, "documents"), "doc_id", "text")
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(
        |      CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |           ELSE string_split_regex(trim(text), '\s+') END)) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM t a JOIN t b ON a.doc_id < b.doc_id AND a.toks = b.toks
        |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("q83_source_overlap", (s, d) => {
      // Cross-source contamination matrix over a deterministic shared
      // corpus: every doc carries the text of doc (id % 39) — 39 is coprime
      // with the 20-source layout (source = src(id % 20)), so each of the
      // 39 contents spans many sources. Digests, not texts, cross the
      // shuffle; per-content source sets expand to sorted pairs with no
      // corpus self-join.
      val docs = t(s, d, "documents")
      val d2 = docs.select(col("doc_id").as("id2"), col("text").as("t2"))
      val corpus = docs.join(d2, col("id2") === col("doc_id") % 39)
        .select(col("doc_id"), col("source"), col("t2").as("text"))
      Dedup.sourceOverlapMatrix(corpus, "text", "source")
        .orderBy("src_a", "src_b")
    },
      // q83: digest-level replay of the overlap matrix via a distinct
      // (source, digest) self-join — the quadratic shape the Spark side
      // deliberately avoids, fine as an oracle at verify scale.
      """WITH corpus AS (
        |  SELECT d1.doc_id, d1.source, d2.text
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id % 39
        |), d AS (
        |  SELECT DISTINCT source, md5(text) AS h FROM corpus
        |)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_contents
        |FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    QuerySpec("q103_incremental_minhash", (s, d) => {
      // Incremental near-dup: even-id docs form the curated index (built
      // once, persisted to parquet); a bounded batch of odd-id docs (< 500
      // — the probe contract is batch MUCH SMALLER than corpus, the daily-
      // ingest shape) probes it without recomputing index signatures. The
      // oracle is the exact cross Jaccard join at the same threshold, i.e.
      // the banding must lose nothing.
      val docs = t(s, d, "documents")
      val index = minHashIndexEven(s, d)
      Dedup.minHashPairsAgainstIndex(
        docs.where(col("doc_id") % 2 === 1 && col("doc_id") < 500),
        "doc_id", "text", index, 0.9)
        .orderBy("batch_id", "index_id")
    },
      // q103: exact cross-parity Jaccard — the banded probe must find every
      // pair at the threshold.
      """WITH t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks FROM documents)
        |SELECT b.doc_id AS batch_id, a.doc_id AS index_id,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |  len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        |FROM t a JOIN t b
        |  ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 AND b.doc_id < 500
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
        |ORDER BY batch_id, index_id""".stripMargin),

    QuerySpec("q179_record_linkage", (s, d) => {
      // Blocking + edit-distance record linkage: a deterministically
      // dirtied parts feed (one char deleted for 2/3 of rows) links back
      // to the catalog within p_brand blocks by Levenshtein <= 2, best
      // match by (distance, partkey). Unmatched rows surface with null
      // match — the reject split is the audit.
      val part = t(s, d, "part")
      val dirty = part.select(col("p_partkey").as("import_id"),
        col("p_brand"),
        Linkage.injectTypos("p_name", "p_partkey").as("p_name"))
      Linkage.linkByEditDistance(
          dirty, "import_id",
          part.select(col("p_partkey"), col("p_brand"), col("p_name")),
          "p_partkey", "p_name", "p_brand", maxDistance = 2)
        .orderBy("import_id")
    },
      // q179: same typo rule, same brand blocks, DuckDB's levenshtein is
      // the same classic DP distance, same (candidacy, distance, id)
      // null-ranked tie-break.
      """WITH dirty AS (
        |  SELECT p_partkey AS import_id, p_brand,
        |    CASE WHEN p_partkey % 3 = 0 OR len(p_name) <= 1 THEN p_name
        |         ELSE substr(p_name, 1, CAST(p_partkey % len(p_name) AS INT))
        |              || substr(p_name, CAST(p_partkey % len(p_name) AS INT) + 2)
        |    END AS dname
        |  FROM part),
        |sc AS (
        |  SELECT d.import_id, d.p_brand, d.dname,
        |    c.p_partkey AS cid, c.p_name AS cname,
        |    levenshtein(d.dname, c.p_name) AS dist
        |  FROM dirty d LEFT JOIN part c ON c.p_brand = d.p_brand),
        |rk AS (
        |  SELECT *, (dist IS NOT NULL AND dist <= 2) AS cand,
        |    row_number() OVER (PARTITION BY import_id
        |      ORDER BY (dist IS NOT NULL AND dist <= 2) DESC,
        |        (dist IS NULL), dist, (cid IS NULL), cid) AS rn
        |  FROM sc)
        |SELECT import_id, p_brand, dname AS dirty_name,
        |  CASE WHEN cand THEN cid END AS matched_id,
        |  CASE WHEN cand THEN cname END AS matched_name,
        |  CASE WHEN cand THEN dist END AS distance
        |FROM rk WHERE rn = 1
        |ORDER BY import_id""".stripMargin),

    QuerySpec("q207_repeated_passages", (s, d) => {
      // Exact repeated-passage mining (the Lee et al. "dedup exact
      // substrings" shape) over the q42 planted corpus (own text + next
      // doc's + doc id%50's — guaranteed cross-document passages):
      // 32-char windows at stride 4 occurring in >= 2 docs union into
      // per-doc copied blocks; the report is each doc's verbatim-copy
      // saturation in exact permille. Digest-keyed equi-joins — suffix
      // arrays don't distribute, window digests do.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val d2 = docs.select(col("doc_id").as("id2"), col("text").as("t2"))
      // Only ids < 50 can match the %50 key — filter, then broadcast the
      // 50-row side instead of shuffling the corpus onto 50 hot keys.
      val d3 = broadcast(docs.where(col("doc_id") < 50)
        .select(col("doc_id").as("id3"), col("text").as("t3")))
      val corpus = docs
        .join(d2, col("id2") === col("doc_id") + 1, "left")
        .join(d3, col("id3") === col("doc_id") % 50)
        .select(col("doc_id"),
          concat(col("text"), lit("\n\n"), coalesce(col("t2"), lit("")),
            lit("\n\n"), col("t3")).as("text"))
      Dedup.repeatedPassageReport(corpus, "doc_id", "text",
          windowLen = 32, stride = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
      // q207: the q42 corpus CTE, the same windows (DuckDB range() stop is
      // exclusive == Spark sequence's inclusive len-L), distinct-doc df
      // filter, then the q202 union sweep and truncating permille.
      """WITH corpus AS (
        |  SELECT d1.doc_id,
        |    d1.text || chr(10) || chr(10) || coalesce(d2.text, '')
        |      || chr(10) || chr(10) || d3.text AS text
        |  FROM documents d1
        |  LEFT JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        |  JOIN documents d3 ON d3.doc_id = d1.doc_id % 50),
        |base AS (
        |  SELECT doc_id, text, len(text) AS n FROM corpus
        |  WHERE len(text) >= 32),
        |wins AS MATERIALIZED (
        |  SELECT doc_id, p,
        |    ('0x' || substr(md5(substr(text, p + 1, 32)), 1, 15))::BIGINT AS h
        |  FROM base, unnest(range(0, n - 32 + 1, 4)) AS t(p)),
        |hot AS (
        |  SELECT h FROM (
        |    SELECT h, count(DISTINCT doc_id) AS df FROM wins GROUP BY h)
        |  WHERE df >= 2),
        |spans AS (
        |  SELECT doc_id, p AS s, p + 32 AS e FROM wins SEMI JOIN hot USING (h)),
        |m AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run
        |  FROM spans),
        |b AS (
        |  SELECT doc_id, s, e,
        |    sum(CASE WHEN run IS NULL OR s > run THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS blk
        |  FROM m),
        |g AS (
        |  SELECT doc_id, blk, count(*) AS c, min(s) AS ms, max(e) AS me
        |  FROM b GROUP BY doc_id, blk),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw,
        |    CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(me - ms) AS BIGINT) AS cov
        |  FROM g GROUP BY doc_id)
        |SELECT base.doc_id,
        |  coalesce(a.nw, 0) AS n_windows,
        |  coalesce(a.nb, 0) AS n_blocks,
        |  coalesce(a.cov, 0) AS copied_chars,
        |  CAST(coalesce(a.cov, 0) * 1000 // base.n AS BIGINT)
        |    AS copy_permille,
        |  CAST(base.n AS BIGINT) AS n_chars
        |FROM base LEFT JOIN agg a USING (doc_id)
        |ORDER BY base.doc_id""".stripMargin),

    QuerySpec("q171_incremental_components", (s, d) => {
      // The incremental dedup lifecycle CLOSED end to end: the even
      // half's cluster assignment persists once (its pair graph is never
      // recomputed); a new odd batch contributes its internal pairs plus
      // its cross-pairs against the STORED minhash index (the q103
      // probe); the stored assignment re-enters as STAR edges
      // (id -> component), which preserve connectivity exactly — so the
      // merge runs components over n + |new pairs| edges instead of the
      // historical pair graph. Result must equal a from-scratch
      // clustering of (curated ∪ batch): q46's recursive closure
      // restricted to exactly those docs.
      val docs = t(s, d, "documents")
      val cpath = Fixtures.once(d, "components_even") {
        Dedup.connectedComponents(
            Dedup.minHashDedupPairs(docs.where(col("doc_id") % 2 === 0),
              "doc_id", "text", 0.9),
            "id_a", "id_b")
          .write.parquet(_)
      }
      // Batch MUCH SMALLER than corpus — the q103 daily-ingest contract
      // (a half-corpus "batch" would rightly cost as much as a rebuild).
      val batch = docs.where(col("doc_id") % 2 === 1 && col("doc_id") < 500)
      val batchPairs = Dedup.minHashDedupPairs(batch, "doc_id", "text", 0.9)
        .select(col("id_a"), col("id_b"))
      val crossPairs = Dedup.minHashPairsAgainstIndex(batch, "doc_id", "text",
          minHashIndexEven(s, d), 0.9)
        .select(col("batch_id").as("id_a"), col("index_id").as("id_b"))
      val starEdges = s.read.parquet(cpath)
        .select(col("id").as("id_a"), col("component").as("id_b"))
      Dedup.connectedComponents(
          starEdges.unionByName(batchPairs).unionByName(crossPairs),
          "id_a", "id_b")
        .orderBy("id")
    },
      // q171: the q46 closure restricted to (curated evens + the bounded
      // odd batch) -- the equality the star-edge incremental merge must hit.
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks
        |  FROM documents
        |  WHERE doc_id % 2 = 0 OR (doc_id % 2 = 1 AND doc_id < 500)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
        |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u)
        |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin),

    QuerySpec("q167_dedup_pressure", (s, d) => {
      // The dedup run's opening number: per source, how much is verbatim
      // copies — exact integer permille from one digest aggregate; text
      // never crosses an exchange.
      Dedup.dedupPressureReport(t(s, d, "documents"), "text", "source")
        .orderBy("source")
    },
      // q167: the same digest two-level aggregate and truncating permille.
      """WITH c AS (
        |  SELECT source, md5(coalesce(text, '')) AS dg, count(*) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT source,
        |  CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c) - count(*) AS BIGINT) AS dup_docs,
        |  (CAST(sum(c) AS BIGINT) - CAST(count(*) AS BIGINT)) * 1000
        |    // CAST(sum(c) AS BIGINT) AS dup_permille
        |FROM c GROUP BY source ORDER BY source""".stripMargin),

    QuerySpec("q122_near_dup_keep_best", (s, d) => {
      // The full fuzzy-dedup decision: verified clusters → one survivor
      // per cluster by score argmax (ties to lowest id), with singletons
      // surviving untouched; clusters come from the STORED component
      // table (q46's artifact). Score is planted as (7·id) mod 100
      // (the q71 convention) so the oracle can replay the pick.
      val docs = t(s, d, "documents")
        .withColumn("score", (col("doc_id") * 7) % 100)
      Dedup.bestRepresentativesFromComponents(docs, "doc_id",
          dupComponents(s, d), col("score"))
        .select(col("doc_id").as("rep_id"), col("component"),
          col("cluster_size"), col("score"))
        .orderBy("component")
    },
      // q122: the q46 closure, singletons re-attached by left join, then the
      // same (score DESC, id) survivor window.
      raw"""WITH RECURSIVE $jaccardClosureCtes,
        |c AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |allc AS (
        |  SELECT d.doc_id AS id, coalesce(c.component, d.doc_id) AS component,
        |    (d.doc_id * 7) % 100 AS score
        |  FROM documents d LEFT JOIN c ON d.doc_id = c.id),
        |r AS (
        |  SELECT id, component, score,
        |    row_number() OVER (PARTITION BY component ORDER BY score DESC, id) AS rn,
        |    count(*) OVER (PARTITION BY component) AS cluster_size
        |  FROM allc)
        |SELECT CAST(id AS BIGINT) AS rep_id, CAST(component AS BIGINT) AS component,
        |  CAST(cluster_size AS BIGINT) AS cluster_size, CAST(score AS BIGINT) AS score
        |FROM r WHERE rn = 1 ORDER BY component""".stripMargin),

    QuerySpec("q121_dup_cluster_sizes", (s, d) => {
      // Duplicate-cluster size distribution: the report every dedup run
      // ships — how many near-dup clusters of each size exist. Serves from
      // the STORED component table (q46's artifact, built once), then two
      // compact aggregates over (component) rows.
      dupComponents(s, d)
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"), sum("cluster_size").as("n_docs"))
        .orderBy("cluster_size")
    },
      // q121: the q46 recursive-CTE transitive closure, aggregated into the
      // cluster-size histogram.
      raw"""WITH RECURSIVE $jaccardClosureCtes,
        |c AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |s AS (SELECT component, count(*) AS cluster_size FROM c GROUP BY component)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
        |FROM s GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),

    QuerySpec("q115_split_leakage", (s, d) => {
      // Split-hygiene check: id-keyed train/val/test assignment LEAKS
      // duplicate content across splits (a val doc whose exact text is in
      // train evaluates nothing). The corpus plants id-shifted copies of
      // every 11th doc — the copies draw fresh buckets, so some land in a
      // different split than their original — and the leakage matrix is
      // the existing source-overlap operator with split as the label.
      // Content-keyed assignment has zero leakage by construction
      // (spec-pinned in PipelineSuite).
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val copies = docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val assigned = Sampling.assignSplits(docs.unionByName(copies), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "seed42")
      Dedup.sourceOverlapMatrix(assigned, "text", "split")
        .orderBy("src_a", "src_b")
    },
      // q115: the q49 bucket arithmetic assigns the planted corpus, then the
      // q83 overlap shape counts distinct contents shared across splits.
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 11 = 0),
        |b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'seed42'), 25, 8))::BIGINT
        |      % 1000000 AS bucket
        |  FROM docs2),
        |a AS (
        |  SELECT text,
        |    CASE WHEN bucket < 800000 THEN 'train'
        |         WHEN bucket < 900000 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b),
        |d AS (SELECT DISTINCT split, md5(text) AS dg FROM a WHERE text IS NOT NULL)
        |SELECT x.split AS src_a, y.split AS src_b,
        |  CAST(count(*) AS BIGINT) AS shared_contents
        |FROM d x JOIN d y ON x.dg = y.dg AND x.split < y.split
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    QuerySpec("q114_suite_contamination", (s, d) => {
      // Which eval suite does the contamination hit? The q50 eval split
      // (doc_id % 37 == 0) divided into three suites by doc_id % 3; the
      // report counts corpus docs sharing a 5-gram with EACH suite. The
      // benchmark reduces to distinct (suite, gram) rows and broadcasts;
      // only matched (suite, id) pairs reach an exchange.
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
        .withColumn("suite", concat(lit("suite"), (col("doc_id") % 3).cast("string")))
      Decontaminate.contaminationBySuite(
        docs, "doc_id", "text", bench, "text", "suite", 5)
        .orderBy("suite")
    },
      // q114: the q50 string-gram machinery with suite labels — distinct
      // (suite, doc) matches counted per suite.
      raw"""WITH ${gramsCtes()},
        |bench AS (
        |  SELECT DISTINCT 'suite' || CAST(doc_id % 3 AS VARCHAR) AS suite, gram
        |  FROM g WHERE doc_id % 37 = 0),
        |hits AS (
        |  SELECT DISTINCT b.suite, g.doc_id
        |  FROM g JOIN bench b USING (gram))
        |SELECT suite, CAST(count(*) AS BIGINT) AS contaminated_docs
        |FROM hits GROUP BY suite ORDER BY suite""".stripMargin),

    QuerySpec("q109_eval_overlap", (s, d) => {
      // Contamination AUDIT panel behind q50's drop decision: per-doc
      // distinct 5-gram count, eval-set overlap count, and the overlap
      // fraction in integer permille — the WMT-style graded threshold
      // input. Same zero-shuffle table-rides-with-task shape as q50;
      // equals the string-gram oracle absent a 64-bit collision.
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
      Decontaminate.overlapStats(docs, "doc_id", "text", bench, "text", 5)
    },
      // q109: the q50 string-gram machinery, counting instead of deciding —
      // per-doc distinct grams, eval hits, and exact integer permille.
      raw"""WITH ${gramsCtes()},
        |cnt AS (
        |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams,
        |    CAST(sum(CASE WHEN gram IN (SELECT gram FROM g WHERE doc_id % 37 = 0)
        |             THEN 1 ELSE 0 END) AS INTEGER) AS overlap_grams
        |  FROM g GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(c.n_grams, 0) AS n_grams,
        |  coalesce(c.overlap_grams, 0) AS overlap_grams,
        |  CASE WHEN c.n_grams IS NULL THEN NULL
        |       ELSE CAST(c.overlap_grams * 1000 // c.n_grams AS BIGINT) END
        |    AS overlap_permille
        |FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id""".stripMargin),

    QuerySpec("q108_corpus_diff", (s, d) => {
      // Corpus refresh diff: v1 drops every 10th doc; v2 drops every 7th
      // and EDITS every 5th's text — a deterministic re-crawl with drops,
      // adds, and modifications (an edit counts as removed + added, the
      // content-keyed semantics). Per-source add/remove/retain panel.
      val docs = t(s, d, "documents")
      val v1 = docs.where(col("doc_id") % 10 =!= 0)
      val v2 = docs.where(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      Dedup.corpusDiff(v1, v2, "text", Seq("source")).orderBy("source")
    },
      // q108: distinct (source, md5) sets per version, full-outer classify —
      // the same edit/drop filters replayed verbatim.
      """WITH v1 AS (
        |  SELECT DISTINCT source, md5(text) AS dg FROM documents
        |  WHERE doc_id % 10 <> 0 AND text IS NOT NULL),
        |v2 AS (
        |  SELECT DISTINCT source,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS dg
        |  FROM documents WHERE doc_id % 7 <> 0 AND text IS NOT NULL),
        |j AS (
        |  SELECT coalesce(a.source, b.source) AS source, a.dg AS adg, b.dg AS bdg
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.source = b.source AND a.dg = b.dg)
        |SELECT source,
        |  CAST(sum(CASE WHEN adg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS added,
        |  CAST(sum(CASE WHEN bdg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed,
        |  CAST(sum(CASE WHEN adg IS NOT NULL AND bdg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained
        |FROM j GROUP BY source ORDER BY source""".stripMargin),

    QuerySpec("q42_dedup_paragraphs", (s, d) => {
      // Paragraph-level exact dedup over a deterministic paragraphed corpus
      // built from `documents`: each doc = own text + next doc's text + the
      // text of doc (id % 50). The third chunk repeats across ~n/50 docs
      // (and IS the first chunk for ids < 50), planting cross-document and
      // within-document duplicate paragraphs with an exact SQL oracle.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val d2 = docs.select(col("doc_id").as("id2"), col("text").as("t2"))
      val d3 = docs.select(col("doc_id").as("id3"), col("text").as("t3"))
      val corpus = docs
        .join(d2, col("id2") === col("doc_id") + 1, "left")
        .join(d3, col("id3") === col("doc_id") % 50)
        .select(col("doc_id"),
          concat(col("text"), lit("\n\n"), coalesce(col("t2"), lit("")),
            lit("\n\n"), col("t3")).as("text"))
      Dedup.dedupParagraphs(corpus, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    },
      """WITH corpus AS (
        |  SELECT d1.doc_id,
        |    d1.text || chr(10) || chr(10) || coalesce(d2.text, '')
        |      || chr(10) || chr(10) || d3.text AS text
        |  FROM documents d1
        |  LEFT JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        |  JOIN documents d3 ON d3.doc_id = d1.doc_id % 50
        |), paras AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(parts) + 1)) AS idx,
        |    unnest(parts) AS para
        |  FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts
        |        FROM corpus)
        |), ranked AS (
        |  SELECT doc_id, idx, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
        |  FROM paras
        |)
        |SELECT c.doc_id,
        |  coalesce(string_agg(r.para, chr(10) || chr(10) ORDER BY r.idx), '')
        |    AS cleaned
        |FROM corpus c
        |LEFT JOIN ranked r ON r.doc_id = c.doc_id AND r.rn = 1
        |GROUP BY c.doc_id""".stripMargin),

    QuerySpec("q60_dup_span_coverage", (s, d) => {
      // Substring-level dedup signal (Lee et al. 2022): per doc, the
      // fraction of tokens covered by a 5-gram occurring in >= 2 distinct
      // docs. One gram exchange feeds both the min!=max duplicate decision
      // and the membership semi-join; covered length is a lag window
      // (fixed-size intervals: union = n + sum(min(n, gap))). n=5 matches
      // the q50 gram size so planted dups light up at sf0.001 too.
      Dedup.duplicateSpanCoverage(t(s, d, "documents"), "doc_id", "text", 5)
    },
      raw"""WITH $dupSpanGramCtes,
        |hits AS (
        |  SELECT doc_id, pos,
        |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM g WHERE gram IN (SELECT gram FROM dup)),
        |cov AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN prev IS NULL THEN 5 ELSE least(5, pos - prev) END) AS dup_tokens
        |  FROM hits GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CAST(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  round(CASE WHEN len(w.toks) IS NULL OR len(w.toks) = 0 THEN 0.0
        |             ELSE CAST(coalesce(cov.dup_tokens, 0) AS DOUBLE) / len(w.toks) END,
        |        6) AS dup_frac
        |FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id
        |ORDER BY w.doc_id""".stripMargin),

    QuerySpec("q61_remove_dup_spans", (s, d) => {
      // ExactSubstr-cut companion to q60: tokens covered by a shared 5-gram
      // are removed and docs rebuilt from the survivors in order. The
      // oracle replays the same grams and a correlated interval test, then
      // reassembles with string_agg ordered by token index.
      Dedup.removeDuplicateSpans(t(s, d, "documents"), "doc_id", "text", 5)
    },
      raw"""WITH $dupSpanGramCtes,
        |hits AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
        |tok AS (
        |  SELECT doc_id, i AS idx, toks[i + 1] AS tok
        |  FROM w, UNNEST(range(len(toks))) AS u(i)),
        |survivors AS (
        |  SELECT t.doc_id, t.idx, t.tok FROM tok t
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM hits h
        |    WHERE h.doc_id = t.doc_id AND t.idx BETWEEN h.pos AND h.pos + 4)),
        |cleaned AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS cleaned
        |  FROM survivors GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(c.cleaned, '') AS cleaned
        |FROM w LEFT JOIN cleaned c ON w.doc_id = c.doc_id
        |ORDER BY w.doc_id""".stripMargin)
  )

  /** The q60/q61 duplicate-span grams: each doc's positional word 5-grams
    * `g(doc_id, pos, gram)` over [[Support.tokensCte]]'s `w`, and the grams
    * `dup` that occur in more than one doc. Margin-prefixed (see [[Support]]). */
  private val dupSpanGramCtes: String =
    s"""${tokensCte()},
      |g AS (
      |  SELECT doc_id, i AS pos,
      |         array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS gram
      |  FROM w, UNNEST(CASE WHEN len(toks) < 5 THEN CAST([] AS BIGINT[])
      |                      ELSE range(len(toks) - 4) END) AS u(i)),
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id))"""
}
