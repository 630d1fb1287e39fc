package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Decontaminate, Dedup, Packing, Sampling, TextAnalysis}
import Support._

/** Sampling, mixtures, splits and packing ([[graft.pipeline.Sampling]],
  * [[graft.pipeline.Packing]]), and the end-to-end curation pipelines built
  * on them. */
private[catalog] object SamplingQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q75_temperature_mixture", (s, d) => {
      // Temperature mixture (α = 1/2): per-source keep rates ∝ sqrt(n)/n
      // normalized to half the corpus, all thresholds in exact integer
      // arithmetic (isqrt + BigInt) so the kept set is engine- and
      // layout-independent. id_sum pins exact membership, not just counts.
      val docs = t(s, d, "documents")
      Sampling.sampleByTemperature(docs, "source", "doc_id",
          budgetPermille = 500, salt = "temp1")
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
        .orderBy("source")
    },
      // q75: replay the integer temperature arithmetic exactly — corrected
      // isqrt, HUGEINT products, one floor division per source — then the
      // same salted md5 bucket membership.
      """WITH n AS (SELECT source, count(*) AS n FROM documents
        |           WHERE source IS NOT NULL GROUP BY source),
        |w0 AS (SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS w0 FROM n),
        |w AS (SELECT source, n,
        |        CASE WHEN w0 * w0 > n THEN w0 - 1
        |             WHEN (w0 + 1) * (w0 + 1) <= n THEN w0 + 1
        |             ELSE w0 END AS w
        |      FROM w0),
        |s AS (SELECT sum(w) AS sw, sum(n) AS total FROM w),
        |t AS (SELECT source,
        |        least(CAST(1000000 AS HUGEINT),
        |          (CAST(total AS HUGEINT) * 500 // 1000) * w * 1000000
        |            // (CAST(sw AS HUGEINT) * n)) AS thr
        |      FROM w, s),
        |b AS (SELECT source, doc_id,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'temp1'), 25, 8))::BIGINT
        |          % 1000000 AS bucket
        |      FROM documents)
        |SELECT b.source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM b JOIN t ON b.source = t.source
        |WHERE b.bucket < t.thr
        |GROUP BY b.source ORDER BY b.source""".stripMargin),

    QuerySpec("q49_split_assign", (s, d) => {
      // Deterministic train/val/test assignment + hash-sampling: pure
      // map-side md5 bucketing on the key, reproducible on any cluster
      // layout (no df.sample() order-dependence).
      val docs = t(s, d, "documents")
      val assigned = Sampling.assignSplits(
        docs, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "seed42")
      val sampled = Sampling.sampleByHash(docs, "doc_id", 0.25, salt = "sub1")
        .agg(count(lit(1)).as("sampled_cnt"), sum(col("doc_id")).as("sampled_id_sum"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"))
        .crossJoin(sampled)
        .orderBy("split")
    },
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'seed42'), 25, 8))::BIGINT
        |      % 1000000 AS bucket
        |  FROM documents),
        |assigned AS (
        |  SELECT doc_id,
        |    CASE WHEN bucket < 800000 THEN 'train'
        |         WHEN bucket < 900000 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b),
        |sub AS (
        |  SELECT count(*) AS sampled_cnt,
        |         CAST(sum(doc_id) AS BIGINT) AS sampled_id_sum
        |  FROM documents
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'sub1'), 25, 8))::BIGINT
        |          % 1000000 < 250000)
        |SELECT split, count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       sub.sampled_cnt, sub.sampled_id_sum
        |FROM assigned, sub
        |GROUP BY split, sub.sampled_cnt, sub.sampled_id_sum
        |ORDER BY split""".stripMargin),

    QuerySpec("q51_source_cap", (s, d) => {
      // Per-domain frequency cap: at most 15 docs per source, winners
      // chosen by deterministic md5 rank so the kept set is identical on
      // any cluster layout / re-run. One shuffle keyed by source.
      Sampling.capPerKey(t(s, d, "documents"), "source", 15, "doc_id", salt = "cap1")
        .select(col("doc_id"), col("source"))
      // no orderBy: order-insensitive gate; a range sort's sampling pass
      // would run the window pipeline twice
    },
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cap1'), 25, 8))::BIGINT
        |                  % 1000000,
        |               doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rk <= 15 ORDER BY doc_id""".stripMargin),

    QuerySpec("q56_mixture_sample", (s, d) => {
      // Data-mixture reweighting: per-source keep fractions via the same
      // md5 bucketing as q49/q51 — pure map-side filter, no join for the
      // fraction lookup (folds to a when-chain).
      val docs = t(s, d, "documents")
      Sampling.sampleByKeyFractions(
          docs, "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.0),
          "doc_id", defaultFraction = 0.1, salt = "mix6")
        .groupBy("source")
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"))
        .orderBy("source")
    },
      """WITH b AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix6'), 25, 8))::BIGINT
        |      % 1000000 AS bucket
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, source FROM b
        |  WHERE bucket < CASE source
        |    WHEN 'src0' THEN 1000000
        |    WHEN 'src1' THEN 500000
        |    WHEN 'src2' THEN 250000
        |    WHEN 'src3' THEN 0
        |    ELSE 100000 END)
        |SELECT source, count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM kept GROUP BY source ORDER BY source""".stripMargin),

    QuerySpec("q55_curation_pipeline", (s, d) => {
      // The whole curation pipeline as ONE Catalyst plan: language filter →
      // quality filter → exact dedup → eval-set decontamination →
      // per-source cap → train/val split → per-split accounting. Every
      // stage is an operator from this library; the oracle replays the
      // identical chain in SQL. Shuffle census for the full pipeline: one
      // for the dedup window, one for the cap window, one for the final
      // aggregate — filters, decontamination, and split assignment are all
      // map-side.
      val docs = t(s, d, "documents")
      val filtered = docs.filter(
        TextAnalysis.langId(col("text")) === "en" &&
          TextAnalysis.tokenCount(col("text")) >= 30 &&
          TextAnalysis.punctRatio(col("text")) < 0.1)
      val deduped = Dedup.exactDedup(filtered, "doc_id", "text")
      val bench = docs.filter(col("doc_id") % 37 === 0)
      val clean = Decontaminate.decontaminate(deduped, "doc_id", "text", bench, "text", 5)
      val capped = Sampling.capPerKey(clean, "source", 10, "doc_id", salt = "cap6")
      val split = Sampling.assignSplits(
        capped, "doc_id", Seq("train" -> 0.9, "val" -> 0.1), salt = "split6")
      split.groupBy("split", "source")
        .agg(count(lit(1)).as("cnt"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))
        .orderBy("split", "source")
    },
      raw"""WITH tok AS (
        |  SELECT doc_id, text, source,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tc,
        |    CASE WHEN len(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE) / len(text) END AS pr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['the','and','of','to','is','a'], t))) AS en,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['el','la','los','las','es','y'], t))) AS es,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['le','la','les','est','et','une'], t))) AS fr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['der','die','das','ist','und','ein'], t))) AS de
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text, source, tc FROM tok
        |  WHERE en >= es AND en >= fr AND en >= de AND en > 0
        |    AND tc >= 30 AND pr < 0.1),
        |dd AS (
        |  SELECT doc_id, text, source, tc FROM (
        |    SELECT f.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM f)
        |  WHERE rn = 1),
        |${gramsCtes()},
        |bad AS (
        |  SELECT DISTINCT doc_id FROM g
        |  WHERE gram IN (SELECT gram FROM g WHERE doc_id % 37 = 0)),
        |clean AS (
        |  SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        |capped AS (
        |  SELECT doc_id, text, source, tc FROM (
        |    SELECT clean.*, row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cap6'), 25, 8))::BIGINT
        |                  % 1000000,
        |               doc_id) AS rk
        |    FROM clean)
        |  WHERE rk <= 10)
        |SELECT
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split6'), 25, 8))::BIGINT
        |              % 1000000 < 900000
        |       THEN 'train' ELSE 'val' END AS split,
        |  source, count(*) AS cnt, CAST(sum(tc) AS BIGINT) AS tokens
        |FROM capped
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    QuerySpec("q89_shuffle_order", (s, d) => {
      // Deterministic epoch shuffle: salt-keyed md5 total order with an
      // explicit rank, computed via the 256-bucket histogram + partitioned
      // window (no global-order single-task window). The oracle IS that
      // naive global window — identical positions by construction.
      Sampling.shuffleOrder(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "epoch0")
        .select("doc_id", "shuffle_pos")
        .orderBy("doc_id")
    },
      // q89: the naive global-order window the bucket-histogram plan avoids —
      // identical positions by construction.
      """SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5('epoch0' || '|' || CAST(doc_id AS VARCHAR)), doc_id)
        |    - 1 AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("q94_curation_audit", (s, d) => {
      // Per-document curation lineage: the FIRST stage of the q55 pipeline
      // that drops each doc ('lang' -> 'quality' -> 'duplicate' ->
      // 'contaminated' -> 'capped'), else 'kept'. The observability face
      // of the same operators: every drop is attributable, and the oracle
      // replays the identical stage chain per doc. Survivor-id sets ride
      // id-only left joins — no text crosses a join exchange.
      // Corpus = documents plus a planted copy of every 20th doc (id +
      // 100000), so the 'duplicate' verdict branch is exercised too.
      val base = t(s, d, "documents")
      val docs = base.unionByName(base.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")))
      val langOk = TextAnalysis.langId(col("text")) === "en"
      val qualOk = TextAnalysis.tokenCount(col("text")) >= 30 &&
        TextAnalysis.punctRatio(col("text")) < 0.1
      // Flags computed ONCE over a spread scan, then checkpointed: the
      // verdict assembly reads the chain's stage sets through four
      // branches (ddIds, clIds, cpIds, the flag projection), each of
      // which previously re-ran the tokenize/langId/punct scan from
      // parquet — ~4x the flag work, serial on the unsplittable input.
      val flagged = spread(docs)
        .withColumn("__lang", langOk).withColumn("__qual", qualOk)
        .localCheckpoint(eager = false)
      val filtered = flagged.where(col("__lang") && col("__qual"))
        .drop("__lang", "__qual")
      val deduped = Dedup.exactDedup(filtered, "doc_id", "text")
      val bench = flagged.filter(col("doc_id") % 37 === 0)
      val clean = Decontaminate.decontaminate(deduped, "doc_id", "text", bench, "text", 5)
      val capped = Sampling.capPerKey(clean, "source", 10, "doc_id", salt = "cap6")
      val ddIds = deduped.select(col("doc_id")).withColumn("__dd", lit(1))
      val clIds = clean.select(col("doc_id")).withColumn("__cl", lit(1))
      val cpIds = capped.select(col("doc_id")).withColumn("__cp", lit(1))
      flagged.select(col("doc_id"), col("__lang"), col("__qual"))
        .join(ddIds, Seq("doc_id"), "left")
        .join(clIds, Seq("doc_id"), "left")
        .join(cpIds, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(!col("__lang"), "lang")
            .when(!col("__qual"), "quality")
            .when(col("__dd").isNull, "duplicate")
            .when(col("__cl").isNull, "contaminated")
            .when(col("__cp").isNull, "capped")
            .otherwise("kept").as("verdict"))
        .orderBy("doc_id")
    },
      // q94: same stage CTEs as q55, emitted as a per-doc first-drop CASE.
      raw"""WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text, source FROM documents
        |  WHERE doc_id % 20 = 0
        |), tok AS (
        |  SELECT doc_id, text, source,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tc,
        |    CASE WHEN len(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE) / len(text) END AS pr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['the','and','of','to','is','a'], t))) AS en,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['el','la','los','las','es','y'], t))) AS es,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['le','la','les','est','et','une'], t))) AS fr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['der','die','das','ist','und','ein'], t))) AS de
        |  FROM corpus),
        |f AS (
        |  SELECT doc_id, text, source, tc FROM tok
        |  WHERE en >= es AND en >= fr AND en >= de AND en > 0
        |    AND tc >= 30 AND pr < 0.1),
        |dd AS (
        |  SELECT doc_id FROM (
        |    SELECT f.doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM f)
        |  WHERE rn = 1),
        |${gramsCtes("corpus")},
        |bad AS (
        |  SELECT DISTINCT doc_id FROM g
        |  WHERE gram IN (SELECT gram FROM g WHERE doc_id % 37 = 0)),
        |clean AS (
        |  SELECT dd.doc_id, f.source FROM dd JOIN f USING (doc_id)
        |  WHERE dd.doc_id NOT IN (SELECT doc_id FROM bad)),
        |capped AS (
        |  SELECT doc_id FROM (
        |    SELECT clean.doc_id, row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cap6'), 25, 8))::BIGINT
        |                  % 1000000,
        |               doc_id) AS rk
        |    FROM clean)
        |  WHERE rk <= 10)
        |SELECT t.doc_id,
        |  CASE WHEN NOT (t.en >= t.es AND t.en >= t.fr AND t.en >= t.de AND t.en > 0)
        |         THEN 'lang'
        |       WHEN NOT (t.tc >= 30 AND t.pr < 0.1) THEN 'quality'
        |       WHEN dd.doc_id IS NULL THEN 'duplicate'
        |       WHEN clean.doc_id IS NULL THEN 'contaminated'
        |       WHEN capped.doc_id IS NULL THEN 'capped'
        |       ELSE 'kept' END AS verdict
        |FROM tok t
        |LEFT JOIN dd ON dd.doc_id = t.doc_id
        |LEFT JOIN clean ON clean.doc_id = t.doc_id
        |LEFT JOIN capped ON capped.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    QuerySpec("q245_weighted_mixture", (s, d) => {
      // Mixture construction: a 10,000-slot training budget apportioned
      // across languages by n_k × mixture-weight (en:4 es:3 fr:2 de:1;
      // zh carries no weight — reported, never allocated), exact
      // weighted Hamilton in DECIMAL(38,0). The budget exceeds the
      // corpus at every sf, so high-weight strata upsample past their
      // size (alloc > n — the epoch-repetition semantics a training
      // mixture wants); Σ alloc = 10,000 exactly. One count per key,
      // |keys|-row window arithmetic only.
      Sampling.weightedAllocation(t(s, d, "documents"), "lang",
          Map("en" -> 4L, "es" -> 3L, "fr" -> 2L, "de" -> 1L), 10000L)
        .orderBy("key")
    },
      // q245: the weighted Hamilton replay in HUGEINT arithmetic — weighted
      // masses n·w, floor quotas, largest-remainder top-ups with key-asc
      // ties, zero-weight strata reported with alloc 0.
      """WITH wt(key, w) AS (
        |  VALUES ('en', 4), ('es', 3), ('fr', 2), ('de', 1)),
        |n AS (
        |  SELECT CAST(lang AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT n.key, n.n, CAST(coalesce(wt.w, 0) AS BIGINT) AS w,
        |    n.n::HUGEINT * coalesce(wt.w, 0) AS m
        |  FROM n LEFT JOIN wt ON n.key = wt.key),
        |tot AS (SELECT sum(m) AS mt FROM m),
        |q AS (
        |  SELECT key, n, w,
        |    CASE WHEN mt > 0 THEN (10000::HUGEINT * m) // mt ELSE 0 END AS base,
        |    CASE WHEN mt > 0 THEN (10000::HUGEINT * m) % mt ELSE 0 END AS rem
        |  FROM m, tot),
        |r AS (
        |  SELECT key, n, w, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, key) AS rk,
        |    (SELECT CASE WHEN (SELECT mt FROM tot) > 0
        |             THEN 10000 - sum(base) ELSE 0 END FROM q) AS leftover
        |  FROM q)
        |SELECT key, n, w,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM r ORDER BY key""".stripMargin),

    QuerySpec("q246_mixture_manifest", (s, d) => {
      // The q245 mixture MATERIALIZED: per-document integer multiplicity
      // (alloc div n epochs each, +1 for the alloc mod n salted-rank
      // winners — capPerKey's md5 order, layout-independent), rows with
      // multiplicity 0 dropped. Σ multiplicity = the 10,000-slot budget
      // exactly; upsampled strata repeat, zh never appears. This is the
      // table a mixture-training run consumes.
      Sampling.sampleWeightedMixture(
          t(s, d, "documents").select("doc_id", "lang"), "lang", "doc_id",
          Map("en" -> 4L, "es" -> 3L, "fr" -> 2L, "de" -> 1L),
          10000L, salt = "mix1")
        .select(col("doc_id"), col("lang"), col("multiplicity"))
        .orderBy("lang", "doc_id")
    },
      // q246: the q245 allocation CTEs + the q119 salted md5 winner rank,
      // multiplicity = alloc // n + (rank <= alloc % n), zero rows dropped.
      """WITH wt(key, w) AS (
        |  VALUES ('en', 4), ('es', 3), ('fr', 2), ('de', 1)),
        |n AS (
        |  SELECT CAST(lang AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT n.key, n.n, CAST(coalesce(wt.w, 0) AS BIGINT) AS w,
        |    n.n::HUGEINT * coalesce(wt.w, 0) AS m
        |  FROM n LEFT JOIN wt ON n.key = wt.key),
        |tot AS (SELECT sum(m) AS mt FROM m),
        |q AS (
        |  SELECT key, n, w,
        |    CASE WHEN mt > 0 THEN (10000::HUGEINT * m) // mt ELSE 0 END AS base,
        |    CASE WHEN mt > 0 THEN (10000::HUGEINT * m) % mt ELSE 0 END AS rem
        |  FROM m, tot),
        |r AS (
        |  SELECT key, n, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, key) AS rk,
        |    (SELECT CASE WHEN (SELECT mt FROM tot) > 0
        |             THEN 10000 - sum(base) ELSE 0 END FROM q) AS leftover
        |  FROM q),
        |a AS (
        |  SELECT key, n,
        |    CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |      AS alloc
        |  FROM r),
        |ranked AS (
        |  SELECT doc_id, CAST(lang AS VARCHAR) AS key,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix1'),
        |                  25, 8))::BIGINT % 1000000,
        |               doc_id) AS rnk
        |  FROM documents WHERE lang IS NOT NULL)
        |SELECT ranked.doc_id, ranked.key AS lang,
        |  CAST(a.alloc // a.n
        |    + CASE WHEN rnk <= a.alloc % a.n THEN 1 ELSE 0 END AS BIGINT)
        |    AS multiplicity
        |FROM ranked JOIN a ON ranked.key = a.key
        |WHERE a.alloc // a.n + CASE WHEN rnk <= a.alloc % a.n THEN 1 ELSE 0 END > 0
        |ORDER BY lang, doc_id""".stripMargin),

    QuerySpec("q250_mixture_epoch_plan", (s, d) => {
      // The mixture EPOCH PLAN composed end to end (q126's chain with
      // the weighted mixture replacing temperature sampling — the
      // DoReMi-style deployment): q245's Hamilton allocation
      // materializes as q246's per-document multiplicity manifest, every
      // document expands to its repetition instances (instance id =
      // doc_id·10⁵ + epoch — replayable arithmetic; multiplicity ≤ the
      // 2,000-slot budget ≪ 10⁵), instances pack greedily per language
      // at 128 tokens, and the packed sequences take the deterministic
      // epoch shuffle — the table a mixture-training run actually
      // consumes. The 2,000-slot budget exceeds the corpus at sf0.01
      // (upsampled strata repeat) and undershoots it at sf0.1 (salted-
      // rank winners only), so both mixture regimes ride one gate. Every
      // stage is an audited operator; the oracle replays allocation,
      // manifest, instance expansion, packing recursion, and the md5
      // shuffle rank.
      val docs = t(s, d, "documents")
      val manifest = Sampling.sampleWeightedMixture(
        docs.select("doc_id", "lang", "text"), "lang", "doc_id",
        Map("en" -> 4L, "es" -> 3L, "fr" -> 2L, "de" -> 1L),
        2000L, salt = "mix1")
      val instances = manifest
        .select(col("doc_id"), col("lang"), col("text"),
          explode(sequence(lit(0L), col("multiplicity") - 1)).as("e"))
        .select((col("doc_id") * 100000L + col("e")).as("inst_id"),
          col("lang"), col("text"))
      val packed = Packing.packGreedy(instances, "inst_id", "text",
        "lang", 128)
      val seqs = packed.groupBy(col("shard"), col("seq_idx"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
        .withColumn("seq_key",
          concat_ws("#", col("shard"), col("seq_idx").cast("string")))
      Sampling.shuffleOrder(seqs, "seq_key", "mixep0")
        .select(col("shard"), col("seq_idx"), col("n_docs"),
          col("seq_tokens"), col("shuffle_pos"))
        .orderBy("shard", "seq_idx")
    },
      // q250: the q246 manifest CTEs at the 2,000-slot budget, lateral
      // generate_series instance expansion, the q126 greedy-packing
      // recursion per language, and the md5 epoch-shuffle rank.
      s"""$epochPlanPackOracleCtes,
        |seqs AS (
        |  SELECT shard, seq_idx, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
        |  FROM g GROUP BY shard, seq_idx),
        |r AS (
        |  SELECT shard, seq_idx, n_docs, seq_tokens,
        |    row_number() OVER (ORDER BY
        |      md5('mixep0' || '|' || shard || '#' || CAST(seq_idx AS VARCHAR)),
        |      shard || '#' || CAST(seq_idx AS VARCHAR)) - 1 AS shuffle_pos
        |  FROM seqs)
        |SELECT shard, CAST(seq_idx AS BIGINT) AS seq_idx, n_docs, seq_tokens,
        |  CAST(shuffle_pos AS BIGINT) AS shuffle_pos
        |FROM r ORDER BY shard, seq_idx""".stripMargin),

    QuerySpec("q253_epoch_plan_instances", (s, d) => {
      // q250's plan at the INSTANCE grain — the table a training data
      // loader actually reads to slice each packed sequence: one row per
      // repetition instance with its sequence coordinates and starting
      // token offset. Offsets come from the SAME greedy scan that packs
      // (the running in-sequence cursor), so sequence boundaries and
      // Σ n_tokens replay exactly; the oracle reuses q250's recursive
      // packing replay, whose running `used` column IS the cursor
      // (tok_offset = used − n_tokens).
      val docs = t(s, d, "documents")
      val manifest = Sampling.sampleWeightedMixture(
        docs.select("doc_id", "lang", "text"), "lang", "doc_id",
        Map("en" -> 4L, "es" -> 3L, "fr" -> 2L, "de" -> 1L),
        2000L, salt = "mix1")
      val instances = manifest
        .select(col("doc_id"), col("lang"), col("text"),
          explode(sequence(lit(0L), col("multiplicity") - 1)).as("e"))
        .select((col("doc_id") * 100000L + col("e")).as("inst_id"),
          col("lang"), col("text"))
      Packing.packGreedyWithOffsets(instances, "inst_id", "text", "lang", 128)
        .withColumnRenamed("id", "inst_id")
        .select(col("inst_id"), col("shard"), col("seq_idx"),
          col("tok_offset"), col("n_tokens"))
        .orderBy("shard", "seq_idx", "tok_offset")
    },
      // q253: the same packing replay at the instance grain; tok_offset
      // is the recursive cursor before admission (used - n_tokens).
      s"""$epochPlanPackOracleCtes
        |SELECT CAST(id AS BIGINT) AS inst_id, shard,
        |  CAST(seq_idx AS BIGINT) AS seq_idx,
        |  CAST(used - n_tokens AS BIGINT) AS tok_offset, n_tokens
        |FROM g ORDER BY shard, seq_idx, tok_offset""".stripMargin),

    QuerySpec("q229_rendezvous_routing", (s, d) => {
      // Rendezvous (HRW) shard routing: stateless consistent placement —
      // per-shard counts over documents routed to 5 shards; removing a
      // shard reassigns only its own keys (the property the spec pins).
      // One md5 per (row, shard), struct-max fold, zero state.
      Sampling.rendezvousAssign(t(s, d, "documents"), "doc_id",
          Seq("s0", "s1", "s2", "s3", "s4"))
        .groupBy("shard").agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("shard")
    },
      // q229: the same per-shard digests and argmax, folded per doc.
      """WITH w AS (
        |  SELECT doc_id, sh,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || sh), 1, 15))::BIGINT AS wt
        |  FROM documents, unnest(['s0','s1','s2','s3','s4']) AS t(sh)),
        |a AS (
        |  SELECT doc_id, sh AS shard FROM (
        |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY wt DESC, sh DESC) AS rk
        |    FROM w) WHERE rk = 1)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin),

    QuerySpec("q215_curation_funnel", (s, d) => {
      // The END-TO-END curation pipeline as one gated funnel: planted
      // HTML pages (q201 fixture) -> markup strip -> Gopher/C4 quality
      // gate (q62 thresholds) -> exact dedup (min-id per digest) ->
      // train split (q49 buckets). One row per stage with surviving doc
      // counts — every stage is an already-audited operator; the oracle
      // replays the whole chain from the SAME shared SQL fragments.
      // Re-crawl duplicates planted: even docs recur under id+10000.
      // Their PAGES differ (the fixture embeds the id in comment/style/
      // script — all stripped), but 10000 ≡ 0 mod 5 keeps the one
      // SURVIVING id mark identical, so the copies collapse only at the
      // dedup stage, exactly like a re-crawl.
      // Every stage frame that feeds BOTH its funnel count and the next
      // stage rides a lazy localCheckpoint: the four unioned branches
      // then share one materialization per stage instead of re-deriving
      // the whole strip→quality→dedup→split lineage per branch (~4× the
      // pipeline's work — the r13 verdict item).
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val base = docs.unionByName(docs.where(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val raw = base.select(col("doc_id"), expr(markupFixtureSql).as("text"))
        .localCheckpoint(false)
      val stripped = raw.select(col("doc_id"),
          TextAnalysis.stripMarkup(col("text")).as("text"))
        .localCheckpoint(false)
      val kept = TextAnalysis.qualityFilter(stripped, "doc_id", "text",
          minTokens = 20)
        .where(col("keep")).select("doc_id")
        .join(stripped, "doc_id")
        .localCheckpoint(false)
      val deduped = Dedup.exactDedup(kept, "doc_id", "text")
        .localCheckpoint(false)
      val train = Sampling.assignSplits(deduped, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "seed42")
        .where(col("split") === "train")
      def stage(i: Int, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i).as("stage_idx"), lit(name).as("stage"),
            col("n_docs"))
      stage(0, "raw", raw)
        .unionByName(stage(1, "quality_kept", kept))
        .unionByName(stage(2, "exact_deduped", deduped))
        .unionByName(stage(3, "train_split", train))
        .orderBy("stage_idx")
    },
      // q215: the whole funnel replayed from the shared fragments —
      // fixture, strip chain, quality CTEs + keep predicate, digest
      // dedup, q49 split buckets.
      s"""WITH uni AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 2 = 0),
        |corpus AS (
        |  SELECT doc_id, $markupFixtureSql AS rawtext FROM uni),
        |stripped AS (
        |  SELECT doc_id, ${stripMarkupSql("rawtext")} AS text FROM corpus),
        |${qualityStatsCtes("stripped")},
        |qk AS (SELECT doc_id FROM s WHERE $qualityKeepSql),
        |kept AS (
        |  SELECT st.doc_id, st.text FROM stripped st
        |  SEMI JOIN qk ON st.doc_id = qk.doc_id),
        |dd AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (
        |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM kept) WHERE rn = 1),
        |tr AS (
        |  SELECT doc_id FROM dd
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'seed42'),
        |    25, 8))::BIGINT % 1000000 < 800000)
        |SELECT * FROM (
        |  SELECT CAST(0 AS INTEGER) AS stage_idx, 'raw' AS stage,
        |    CAST(count(*) AS BIGINT) AS n_docs FROM corpus
        |  UNION ALL SELECT 1, 'quality_kept', count(*) FROM kept
        |  UNION ALL SELECT 2, 'exact_deduped', count(*) FROM dd
        |  UNION ALL SELECT 3, 'train_split', count(*) FROM tr)
        |ORDER BY stage_idx""".stripMargin),

    QuerySpec("q210_weighted_sample", (s, d) => {
      // Efraimidis–Spirakis weighted sampling without replacement: the
      // 100 events with the largest md5-derived ln(u)/value keys — PPS
      // inclusion, no RNG, no shuffle (distributed TakeOrdered merges
      // per-partition top-k heads). Key rounds once to micro-nats.
      Sampling.weightedSampleNoReplacement(events(s, d),
          "event_id", "value", k = 100)
        .orderBy(desc("key_micro"), asc("id"))
    },
      // q210: the same md5-52-bit u, ln(u)/w micro-nat key, (key DESC, id)
      // top-100.
      """SELECT event_id AS id,
        |  CAST(round(ln((('0x' || substr(md5('ws|' || CAST(event_id AS VARCHAR)), 1, 13))::BIGINT + 1)
        |      / 4503599627370496.0) / CAST(value AS DOUBLE) * 1000000.0)
        |    AS BIGINT) AS key_micro
        |FROM events WHERE CAST(value AS DOUBLE) > 0
        |ORDER BY key_micro DESC, id LIMIT 100""".stripMargin),

    QuerySpec("q150_leakage_safe_split", (s, d) => {
      // Cluster-integral train/val/test: every near-dup CLUSTER lands
      // whole in one split — per-doc assignment (q49) would leak
      // near-copies of train docs into val/test, the classic eval
      // contamination bug. Components come from the STORED component
      // table (q46's artifact, built once); unpaired docs are their own
      // cluster; the split key is the cluster representative (min
      // reachable doc_id), assigned by the q49 md5-bucket rule — so the
      // whole cluster shares the key and therefore the split.
      val docs = t(s, d, "documents")
      val comp = dupComponents(s, d)
      val clustered = docs.select(col("doc_id"))
        .join(comp, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"))
      Sampling.assignSplits(clustered, "cluster",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "seed42")
        .orderBy("doc_id")
    },
      // q150: the q46 recursive-CTE components, singletons defaulting to
      // their own id, then the q49 md5-bucket split rule keyed by the
      // CLUSTER — every cluster member shares the bucket, so leakage
      // across splits is impossible by construction.
      raw"""WITH RECURSIVE $jaccardClosureCtes,
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |clustered AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |b AS (
        |  SELECT doc_id, cluster,
        |    ('0x' || substr(md5(CAST(cluster AS VARCHAR) || 'seed42'), 25, 8))::BIGINT
        |      % 1000000 AS bucket
        |  FROM clustered)
        |SELECT doc_id, cluster,
        |  CASE WHEN bucket < 800000 THEN 'train'
        |       WHEN bucket < 900000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin),

    QuerySpec("q126_training_prep", (s, d) => {
      // The training-prep counterpart of q55's curation chain, ONE
      // composed plan: temperature mixture (α=1/2, integer-exact
      // thresholds) → greedy no-split packing per source → sequence-level
      // deterministic epoch shuffle. Output is the epoch plan a trainer
      // consumes: per packed sequence its fill and its reproducible
      // shuffle position. Every stage is an audited operator; the oracle
      // replays the chain stage for stage (threshold chain, greedy
      // recursion, md5 total order).
      val docs = t(s, d, "documents")
      val kept = Sampling.sampleByTemperature(docs, "source", "doc_id",
        budgetPermille = 500, salt = "prep1")
      val packed = Packing.packGreedy(kept, "doc_id", "text", "source", 128)
      val seqs = packed.groupBy(col("shard"), col("seq_idx"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
        .withColumn("seq_key",
          concat_ws("#", col("shard"), col("seq_idx").cast("string")))
      Sampling.shuffleOrder(seqs, "seq_key", "epoch0")
        .select(col("shard"), col("seq_idx"), col("n_docs"),
          col("seq_tokens"), col("shuffle_pos"))
        .orderBy("shard", "seq_idx")
    },
      // q126: the q75 threshold chain (salt prep1) → the q66 greedy
      // recursion over the kept docs → the q89 md5 total order over
      // sequence keys, chained as CTEs.
      raw"""WITH RECURSIVE
        |n AS (SELECT source, count(*) AS n FROM documents
        |      WHERE source IS NOT NULL GROUP BY source),
        |w0 AS (SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS w0 FROM n),
        |w AS (SELECT source, n,
        |        CASE WHEN w0 * w0 > n THEN w0 - 1
        |             WHEN (w0 + 1) * (w0 + 1) <= n THEN w0 + 1
        |             ELSE w0 END AS w
        |      FROM w0),
        |sww AS (SELECT sum(w) AS sw, sum(n) AS total FROM w),
        |thr AS (SELECT source,
        |          least(CAST(1000000 AS HUGEINT),
        |            (CAST(total AS HUGEINT) * 500 // 1000) * w * 1000000
        |              // (CAST(sw AS HUGEINT) * n)) AS thr
        |        FROM w, sww),
        |kept AS (
        |  SELECT d.doc_id, d.source, d.text
        |  FROM documents d JOIN thr ON d.source = thr.source
        |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'prep1'), 25, 8))::BIGINT
        |          % 1000000 < thr.thr),
        |tok AS (
        |  SELECT doc_id AS id, source AS shard,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id, md5(coalesce(text, ''))) AS rn
        |  FROM kept),
        |$greedyPackCte,
        |seqs AS (
        |  SELECT shard, seq_idx, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
        |  FROM g GROUP BY shard, seq_idx),
        |r AS (
        |  SELECT shard, seq_idx, n_docs, seq_tokens,
        |    row_number() OVER (ORDER BY
        |      md5('epoch0' || '|' || shard || '#' || CAST(seq_idx AS VARCHAR)),
        |      shard || '#' || CAST(seq_idx AS VARCHAR)) - 1 AS shuffle_pos
        |  FROM seqs)
        |SELECT shard, CAST(seq_idx AS BIGINT) AS seq_idx, n_docs, seq_tokens,
        |  CAST(shuffle_pos AS BIGINT) AS shuffle_pos
        |FROM r ORDER BY shard, seq_idx""".stripMargin),

    QuerySpec("q119_stratified_sample", (s, d) => {
      // Exact stratified sample: a global budget of 100 docs apportioned
      // across languages by largest remainder (bases + top-up seats, ties
      // by key), winners by the salted-md5 capPerKey rule. id_sum pins
      // exact membership, not just the per-stratum counts.
      val docs = t(s, d, "documents")
      Sampling.sampleProportional(docs, "lang", "doc_id", 100, salt = "alloc1")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    },
      // q119: the Hamilton apportionment replayed in HUGEINT arithmetic —
      // floor quotas, largest-remainder top-ups with key-asc ties — then the
      // same salted md5-bucket window rank picks the winners.
      """WITH n AS (
        |  SELECT lang, count(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang),
        |tot AS (SELECT sum(n) AS nt FROM n),
        |q AS (
        |  SELECT lang, n,
        |    (100::HUGEINT * n) // nt AS base, (100::HUGEINT * n) % nt AS rem
        |  FROM n, tot),
        |r AS (
        |  SELECT lang, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |    (SELECT 100 - sum(base) FROM q) AS leftover
        |  FROM q),
        |a AS (
        |  SELECT lang,
        |    base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
        |  FROM r),
        |ranked AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'alloc1'), 25, 8))::BIGINT
        |                  % 1000000,
        |               doc_id) AS rnk
        |  FROM documents)
        |SELECT ranked.lang,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM ranked JOIN a ON ranked.lang = a.lang
        |WHERE rnk <= alloc
        |GROUP BY ranked.lang ORDER BY ranked.lang""".stripMargin),

    QuerySpec("q116_padding_waste", (s, d) => {
      // Padding-waste report: per source, batches of 16 docs padded to the
      // batch max under arrival (id) order vs length-sorted order. The gap
      // between the two rows is the token volume a fixed-shape training
      // step burns on padding when the loader does not length-bucket —
      // the measurement that justifies the packing operators (q63-q66).
      Packing.paddingWasteReport(t(s, d, "documents"),
          "doc_id", "text", "source", 16)
        .orderBy("shard", "strategy")
    },
      // q116: both batch assignments replayed as row_number windows over the
      // identical (id, md5) tie order, then the same per-batch max·count
      // padding arithmetic in exact integers.
      """WITH base AS (
        |  SELECT doc_id AS id, source AS shard,
        |    CASE WHEN text IS NULL OR len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    md5(coalesce(text, '')) AS tb
        |  FROM documents),
        |a AS (
        |  SELECT shard, n_tokens,
        |    (row_number() OVER (PARTITION BY shard ORDER BY id, tb) - 1) // 16 AS batch
        |  FROM base),
        |s AS (
        |  SELECT shard, n_tokens,
        |    (row_number() OVER (PARTITION BY shard ORDER BY n_tokens, id, tb) - 1) // 16 AS batch
        |  FROM base),
        |ab AS (SELECT shard, batch, count(*) AS bn, sum(n_tokens) AS bt,
        |         max(n_tokens) AS bm FROM a GROUP BY shard, batch),
        |sb AS (SELECT shard, batch, count(*) AS bn, sum(n_tokens) AS bt,
        |         max(n_tokens) AS bm FROM s GROUP BY shard, batch),
        |u AS (
        |  SELECT shard, 'arrival' AS strategy, sum(bn) AS n_docs,
        |    count(*) AS n_batches, sum(bt) AS total_tokens,
        |    sum(bm * bn) AS padded_tokens
        |  FROM ab GROUP BY shard
        |  UNION ALL
        |  SELECT shard, 'sorted', sum(bn), count(*), sum(bt), sum(bm * bn)
        |  FROM sb GROUP BY shard)
        |SELECT shard, strategy, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_batches AS BIGINT) AS n_batches,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  CAST(padded_tokens AS BIGINT) AS padded_tokens,
        |  CAST(CASE WHEN padded_tokens = 0 THEN 0
        |       ELSE (padded_tokens - total_tokens) * 1000 // padded_tokens
        |       END AS BIGINT) AS waste_permille
        |FROM u ORDER BY shard, strategy""".stripMargin),

    QuerySpec("q111_packing_report", (s, d) => {
      // Packing efficiency panel over the q66 greedy assignment: per
      // shard, sequence count, packed docs/tokens, and overall fill in
      // integer permille of the sequence budget — the number that says
      // whether the packing budget fits the corpus's length distribution.
      val packed = Packing.packGreedy(
        t(s, d, "documents"), "doc_id", "text", "source", 128L)
      packed.groupBy("shard")
        .agg(count_distinct(col("seq_idx")).as("n_seqs"),
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"))
        .withColumn("fill_permille",
          expr("sum_tokens * 1000 DIV (n_seqs * 128)"))
        .orderBy("shard")
    },
      // q111: the q66 recursive greedy replay, aggregated per shard.
      raw"""WITH RECURSIVE tok AS (
        |  SELECT doc_id AS id, source AS shard,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id, md5(coalesce(text, ''))) AS rn
        |  FROM documents),
        |$greedyPackCte
        |SELECT shard,
        |  CAST(count(DISTINCT seq_idx) AS BIGINT) AS n_seqs,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_tokens) * 1000 // (count(DISTINCT seq_idx) * 128) AS BIGINT)
        |    AS fill_permille
        |FROM g GROUP BY shard ORDER BY shard""".stripMargin),

    QuerySpec("q63_pack_greedy", (s, d) => {
      // T5-style greedy no-split sequence packing into 128-token budgets,
      // sharded by source: a doc joins the current sequence iff it fits.
      // O(1)-state sorted-group scan; the oracle replays the same greedy
      // recurrence with a recursive CTE.
      Packing.packGreedy(t(s, d, "documents"), "doc_id", "text", "source", 128)
    },
      // Greedy no-split packing: the oracle replays the exact per-shard greedy
      // recurrence (seq += 1 and used = tc whenever used + tc > budget, with
      // used initialized past the budget so the first doc opens sequence 0)
      // via a recursive CTE stepping one row_number per shard per level.
      // ORDER BY doc_id, md5(text) mirrors Packing's deterministic
      // duplicate-id tiebreak (both engines agree on md5's lowercase hex).
      raw"""WITH RECURSIVE tok AS (
        |  SELECT doc_id AS id, source AS shard,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id, md5(coalesce(text, ''))) AS rn
        |  FROM documents),
        |$greedyPackCte
        |SELECT id, shard, n_tokens, seq_idx FROM g ORDER BY shard, id""".stripMargin),

    QuerySpec("q64_pack_concat", (s, d) => {
      // GPT-style concat-and-chunk packing: per-shard token stream cut
      // every 128 tokens, docs may span cuts. Pure window arithmetic.
      Packing.packConcat(t(s, d, "documents"), "doc_id", "text", "source", 128)
    },
      // Concat-and-chunk packing: pure running-sum arithmetic, directly
      // expressible as a window in both engines. The (id, md5(text)) window
      // order and explicit ROWS frame mirror Packing.packConcat exactly —
      // without them, duplicate ids would make cum_before either
      // peer-double-counted (RANGE default) or tie-order-dependent.
      // cum_before is CAST back to BIGINT: DuckDB's windowed sum(BIGINT)
      // returns HUGEINT, which fetchdf converts to float64, so the derived
      // start_seq/start_off/end_seq arrived driver-side as 4.0 vs Spark's 4
      // — value-equal but dtype-different, which the driver's hash rejects
      // (the r8/r9 q64 red row).
      """WITH w AS (
        |  SELECT doc_id AS id, source AS shard,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    md5(coalesce(text, '')) AS tb
        |  FROM documents),
        |c AS (
        |  SELECT id, shard, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id, tb
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             - n_tokens, 0) AS BIGINT) AS cum_before
        |  FROM w)
        |SELECT id, shard, n_tokens,
        |  cum_before // 128 AS start_seq,
        |  cum_before % 128 AS start_off,
        |  CASE WHEN n_tokens > 0 THEN (cum_before + n_tokens - 1) // 128
        |       ELSE cum_before // 128 END AS end_seq
        |FROM c ORDER BY shard, id""".stripMargin),

    QuerySpec("q66_pack_sequences", (s, d) => {
      // Materialized greedy packing: the model-ready sequences themselves,
      // emitted incrementally from the same one-shuffle sorted-group scan
      // as q63 (text crosses the wire once; no assignment join-back). The
      // oracle replays the recurrence (recursive CTE) then string_aggs the
      // members in id order.
      Packing.packSequences(t(s, d, "documents"), "doc_id", "text", "source", 128)
    },
      // Same greedy recurrence as q63 (same duplicate-id md5 tiebreak), then
      // the sequences materialize as scan-ordered space-joined member text
      // (null text joins as ''); string_agg orders by rn, the scan order.
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id AS id, source AS shard, coalesce(text, '') AS text,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id, md5(coalesce(text, ''))) AS rn
        |  FROM documents),
        |g AS (
        |  SELECT id, shard, text, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS seq_idx, n_tokens AS used
        |  FROM tok WHERE rn = 1
        |  UNION ALL
        |  SELECT t.id, t.shard, t.text, t.n_tokens, t.rn,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN g.seq_idx + 1 ELSE g.seq_idx END,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN t.n_tokens ELSE g.used + t.n_tokens END
        |  FROM g JOIN tok t ON t.shard = g.shard AND t.rn = g.rn + 1)
        |SELECT shard, seq_idx,
        |  string_agg(text, ' ' ORDER BY rn) AS text,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM g GROUP BY shard, seq_idx ORDER BY shard, seq_idx""".stripMargin)
  )

  /** q250/q253 shared replay: Hamilton allocation, manifest,
    * instance expansion, and the recursive greedy packing whose
    * running `used` column is the in-sequence token cursor. */
  private def epochPlanPackOracleCtes: String =
      raw"""WITH RECURSIVE wt(key, w) AS (
        |  VALUES ('en', 4), ('es', 3), ('fr', 2), ('de', 1)),
        |n AS (
        |  SELECT CAST(lang AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT n.key, n.n, CAST(coalesce(wt.w, 0) AS BIGINT) AS w,
        |    n.n::HUGEINT * coalesce(wt.w, 0) AS m
        |  FROM n LEFT JOIN wt ON n.key = wt.key),
        |tot AS (SELECT sum(m) AS mt FROM m),
        |q AS (
        |  SELECT key, n, w,
        |    CASE WHEN mt > 0 THEN (2000::HUGEINT * m) // mt ELSE 0 END AS base,
        |    CASE WHEN mt > 0 THEN (2000::HUGEINT * m) % mt ELSE 0 END AS rem
        |  FROM m, tot),
        |r0 AS (
        |  SELECT key, n, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, key) AS rk,
        |    (SELECT CASE WHEN (SELECT mt FROM tot) > 0
        |             THEN 2000 - sum(base) ELSE 0 END FROM q) AS leftover
        |  FROM q),
        |a AS (
        |  SELECT key, n,
        |    CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |      AS alloc
        |  FROM r0),
        |ranked AS (
        |  SELECT doc_id, CAST(lang AS VARCHAR) AS key,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix1'),
        |                  25, 8))::BIGINT % 1000000,
        |               doc_id) AS rnk
        |  FROM documents WHERE lang IS NOT NULL),
        |man AS (
        |  SELECT ranked.doc_id, ranked.key AS lang,
        |    CAST(a.alloc // a.n
        |      + CASE WHEN rnk <= a.alloc % a.n THEN 1 ELSE 0 END AS BIGINT)
        |      AS multiplicity
        |  FROM ranked JOIN a ON ranked.key = a.key
        |  WHERE a.alloc // a.n
        |      + CASE WHEN rnk <= a.alloc % a.n THEN 1 ELSE 0 END > 0),
        |inst AS (
        |  SELECT man.doc_id * 100000
        |      + unnest(generate_series(0, man.multiplicity - 1)) AS id,
        |    man.lang AS shard, d.text
        |  FROM man JOIN documents d ON d.doc_id = man.doc_id),
        |tok AS (
        |  SELECT id, shard,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY shard
        |      ORDER BY id, md5(coalesce(text, ''))) AS rn
        |  FROM inst),
        |$greedyPackCte""".stripMargin

  /** [[graft.pipeline.Packing.packGreedy]]'s greedy first-fit replay at
    * a 128-token budget: a recursive walk `g` over each shard's docs in
    * `tok(id, shard, n_tokens, rn)` order that opens a new sequence when
    * the next doc would overflow. The caller writes `WITH RECURSIVE`.
    * Margin-prefixed (see [[Support]]). */
  private val greedyPackCte: String =
    """g AS (
      |  SELECT id, shard, n_tokens, rn,
      |    CAST(0 AS BIGINT) AS seq_idx, n_tokens AS used
      |  FROM tok WHERE rn = 1
      |  UNION ALL
      |  SELECT t.id, t.shard, t.n_tokens, t.rn,
      |    CASE WHEN g.used + t.n_tokens > 128 THEN g.seq_idx + 1 ELSE g.seq_idx END,
      |    CASE WHEN g.used + t.n_tokens > 128 THEN t.n_tokens ELSE g.used + t.n_tokens END
      |  FROM g JOIN tok t ON t.shard = g.shard AND t.rn = g.rn + 1)"""
}
