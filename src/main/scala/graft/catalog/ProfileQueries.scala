package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.KmvFunctions
import graft.pipeline.{HeavyHitters, Profile, TextAnalysis}
import Support._

/** Table profiling and sketches ([[graft.pipeline.Profile]],
  * [[graft.pipeline.HeavyHitters]], [[graft.functions.KmvFunctions]]). */
private[catalog] object ProfileQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q76_kmv_distinct", (s, d) => {
      // Mergeable KMV distinct sketch vs exact distinct, per source: the
      // sketch ships O(k) longs per group through the exchange where exact
      // distinct ships every distinct text digest. Estimate is a pure
      // integer function of the distinct hash set, so the oracle replays
      // it exactly in SQL.
      val docs = t(s, d, "documents")
      docs.groupBy("source").agg(
          KmvFunctions.kmv_distinct(KmvFunctions.md5Hash60(col("text")), 64)
            .as("kmv_distinct"),
          countDistinct(col("text")).as("exact_distinct"))
        .orderBy("source")
    },
      // q76: replay the sketch exactly — distinct 60-bit md5 hashes, the
      // 64th smallest per group, (k-1)*2^60 // h_k in HUGEINT; exact count
      // below k. LEFT JOIN keeps sources whose texts are all NULL (kmv 0).
      """WITH h AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS hv
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT source, hv,
        |    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn,
        |    count(*) OVER (PARTITION BY source) AS cnt
        |  FROM h),
        |est AS (
        |  SELECT source,
        |    CASE WHEN max(cnt) < 64 THEN max(cnt)
        |         ELSE CAST((CAST(63 AS HUGEINT) * 1152921504606846976)
        |                // max(CASE WHEN rn = 64 THEN hv END) AS BIGINT)
        |    END AS kmv
        |  FROM r GROUP BY source),
        |ex AS (SELECT source, count(DISTINCT text) AS exact_distinct
        |       FROM documents GROUP BY source)
        |SELECT ex.source,
        |       CAST(coalesce(est.kmv, 0) AS BIGINT) AS kmv_distinct,
        |       CAST(exact_distinct AS BIGINT) AS exact_distinct
        |FROM ex LEFT JOIN est ON ex.source = est.source
        |ORDER BY ex.source""".stripMargin),

    QuerySpec("q81_heavy_hitters", (s, d) => {
      // Exact heavy hitters at sketch cost: a mergeable Misra-Gries sketch
      // consumes token ARRAYS map-side (never exploding the corpus before
      // the exchange), proves candidate completeness via its error bound,
      // then an exact confirm pass counts only candidate hits. The oracle
      // is the brute-force count the sketch path must reproduce exactly.
      HeavyHitters.heavyHitters(t(s, d, "documents"), "text",
        threshold = 100L, capacity = 1024)
        .orderBy("token")
    },
      // q81: brute-force token count with threshold — the exact result the
      // sketch+confirm path must reproduce. Empty/whitespace-only texts yield
      // no tokens on the Spark side; the WHERE mirrors that (DuckDB's
      // string_split_regex('') returns [''], not []).
      """SELECT token, count(*) AS freq
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |      FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        |GROUP BY token HAVING count(*) >= 100
        |ORDER BY token""".stripMargin),

    QuerySpec("q102_kmv_ledger", (s, d) => {
      // Sketch LIFECYCLE: per-(lang, source) bottom-k sketches persisted to
      // a parquet ledger, read back, re-aggregated per lang with kmv_merge,
      // and the estimate compared against running the one-shot aggregate
      // directly over the corpus — store daily, merge later, same answer
      // (the set rule is associative), no corpus rescan.
      val docs = t(s, d, "documents")
      def h = KmvFunctions.md5Hash60(col("text"))
      val path = Fixtures.scratch("kmv_ledger")
      docs.groupBy("lang", "source")
        .agg(KmvFunctions.kmv_sketch(h, 64).as("sk"))
        .write.parquet(path)
      val merged = s.read.parquet(path).groupBy("lang")
        .agg(KmvFunctions.kmv_estimate(KmvFunctions.kmv_merge(col("sk"), 64), 64)
          .as("merged_distinct"))
      val direct = docs.groupBy("lang")
        .agg(KmvFunctions.kmv_distinct(h, 64).as("direct_distinct"))
      merged.join(direct, Seq("lang")).orderBy("lang")
    },
      // q102: the per-lang bottom-64 rule once; merged and direct must both
      // equal it (the sketch set rule is associative).
      """WITH h AS (
        |  SELECT DISTINCT lang,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS hv
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT lang, hv,
        |    row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM h),
        |est AS (
        |  SELECT lang,
        |    CASE WHEN max(cnt) < 64 THEN max(cnt)
        |         ELSE CAST((CAST(63 AS HUGEINT) * 1152921504606846976)
        |                // max(CASE WHEN rn = 64 THEN hv END) AS BIGINT)
        |    END AS v
        |  FROM r GROUP BY lang)
        |SELECT lang, CAST(v AS BIGINT) AS merged_distinct,
        |       CAST(v AS BIGINT) AS direct_distinct
        |FROM est ORDER BY lang""".stripMargin),

    QuerySpec("q178_cms_frequencies", (s, d) => {
      // Count-min sketch point queries, gated on the ESTIMATES: the 4×1024
      // md5-bucketed sketch is built once from the token stream (fixed-size
      // mergeable state), then the exact top-30 tokens are looked up in it
      // — est >= exact always; the overshoot column is the sketch's
      // measured collision error.
      val docs = t(s, d, "documents")
      val sketch = HeavyHitters.countMinSketch(docs, "text", depth = 4,
        width = 1024)
      val exact = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("exact"))
        .orderBy(desc("exact"), asc("token")).limit(30)
      HeavyHitters.cmsEstimates(sketch, exact.select("token"), "token",
          depth = 4, width = 1024)
        .join(exact, "token")
        .select(col("token"), col("exact"), col("est"),
          (col("est") - col("exact")).as("overshoot"))
        .orderBy("token")
    },
      // q178: the estimates replay exactly — same md5("r:token") mod 1024
      // buckets, same min-over-4-rows lookup.
      """WITH tk AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |cells AS (
        |  SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 1024 AS bucket
        |  FROM tk CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r)),
        |sketch AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
        |           FROM cells GROUP BY 1, 2),
        |ex AS (SELECT token, CAST(count(*) AS BIGINT) AS exact
        |       FROM tk GROUP BY 1),
        |top AS (SELECT token, exact FROM ex
        |        ORDER BY exact DESC, token LIMIT 30),
        |addr AS (
        |  SELECT t.token, t.exact, r,
        |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || t.token), 1, 15))::BIGINT % 1024 AS bucket
        |  FROM top t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r))
        |SELECT a.token, a.exact,
        |  min(coalesce(s.cnt, 0)) AS est,
        |  min(coalesce(s.cnt, 0)) - a.exact AS overshoot
        |FROM addr a LEFT JOIN sketch s ON s.r = a.r AND s.bucket = a.bucket
        |GROUP BY a.token, a.exact
        |ORDER BY token""".stripMargin),

    QuerySpec("q183_mad_outliers", (s, d) => {
      // Robust numeric outlier screen: per event type, |x − median| >
      // 3·1.4826·MAD in pure integer arithmetic (micro quantization,
      // histogram-rule medians, cross-multiplied inequality) — the
      // metadata sanity gate where mean/stddev would let a giant
      // outlier inflate its own threshold and mask itself.
      Profile.madOutlierReport(events(s, d), Seq("event_type"),
          "event_id", "value", sigmas = 3)
        .orderBy("event_id")
    },
      // q183: micro quantization, the q112 histogram median twice (value,
      // then |x − med|), and the cross-multiplied integer MAD inequality
      // (3 · 14826 = 44478).
      """WITH b AS (
        |  SELECT event_type, event_id,
        |    CAST(round(value * 1e6) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT event_type, v, count(*) AS c FROM b GROUP BY 1, 2),
        |hc AS (
        |  SELECT event_type, v,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM h),
        |med AS (
        |  SELECT event_type, min(v) AS med_micro FROM hc
        |  WHERE cum >= (500 * n + 999) // 1000 GROUP BY event_type),
        |dev AS (
        |  SELECT b.event_type, b.event_id, b.v, med.med_micro,
        |    abs(b.v - med.med_micro) AS d
        |  FROM b JOIN med USING (event_type)),
        |dh AS (SELECT event_type, d, count(*) AS c FROM dev GROUP BY 1, 2),
        |dhc AS (
        |  SELECT event_type, d,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM dh),
        |mad AS (
        |  SELECT event_type, min(d) AS mad_micro FROM dhc
        |  WHERE cum >= (500 * n + 999) // 1000 GROUP BY event_type)
        |SELECT dev.event_type, dev.event_id, dev.v AS value_micro,
        |  dev.med_micro, mad.mad_micro,
        |  dev.d * 10000 > mad.mad_micro * 44478 AS is_outlier
        |FROM dev JOIN mad USING (event_type)
        |ORDER BY event_id""".stripMargin),

    QuerySpec("q241_release_prep", (s, d) => {
      // Release preparation COMPOSED (the r14 verdict's pseudonymize
      // gate): the q236 k-anonymity audit decides which (event_type,
      // day) equivalence classes are safe to ship (k=l=50 — both flags
      // carry real signal at this sf), then the released rows carry only
      // the PSEUDONYMIZED user key — md5(salt|id), deterministic so
      // joinability within the release survives while the raw id never
      // travels. Class list broadcasts (one row per class); the oracle
      // replays audit, filter, and the md5 expression verbatim.
      val ev = events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("db"), col("user_id"))
      val safe = Profile.kAnonymityReport(ev, Seq("event_type", "db"),
          "user_id", k = 50, l = 50)
        .where(col("violates_k") === 0 && col("violates_l") === 0)
        .select("event_type", "db")
      ev.join(broadcast(safe), Seq("event_type", "db"))
        .select(col("event_type"), col("db"),
          Profile.pseudonymize(col("user_id"), "rel1").as("pseudo_uid"))
        .distinct()
        .orderBy("event_type", "db", "pseudo_uid")
    },
      // q241: k/l-safe classes via HAVING, then the released distinct
      // (class, md5-pseudonym) rows — the pseudonymization expression
      // replayed verbatim.
      """WITH cls AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS db
        |  FROM events GROUP BY 1, 2
        |  HAVING count(*) >= 50 AND count(DISTINCT user_id) >= 50)
        |SELECT DISTINCT e.event_type AS event_type,
        |  epoch_us(e.ts) // 86400000000 AS db,
        |  md5('rel1|' || CAST(e.user_id AS VARCHAR)) AS pseudo_uid
        |FROM events e JOIN cls ON e.event_type = cls.event_type
        |  AND epoch_us(e.ts) // 86400000000 = cls.db
        |ORDER BY e.event_type, db, pseudo_uid""".stripMargin),

    QuerySpec("q236_k_anonymity", (s, d) => {
      // The privacy audit before a user-derived release: k-anonymity /
      // l-diversity over (event_type, day) equivalence classes with
      // user_id as the sensitive attribute — one aggregation, one row
      // per CLASS, violation flags as summable ints. Thresholds k=l=50
      // straddle the sf0.01 class sizes (47..86 rows, 42..67 users) so
      // both flags carry real signal.
      val ev = events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("db"), col("user_id"))
      Profile.kAnonymityReport(ev, Seq("event_type", "db"), "user_id",
          k = 50, l = 50)
        .orderBy("event_type", "db")
    },
      """SELECT event_type, epoch_us(ts) // 86400000000 AS db,
        |  count(*) AS class_size,
        |  count(DISTINCT user_id) AS distinct_sensitive,
        |  CASE WHEN count(*) < 50 THEN 1 ELSE 0 END AS violates_k,
        |  CASE WHEN count(DISTINCT user_id) < 50 THEN 1 ELSE 0 END AS violates_l
        |FROM events GROUP BY event_type, db
        |ORDER BY event_type, db""".stripMargin),

    QuerySpec("q224_quantile_bins", (s, d) => {
      // The feature discretizer: every event's value binned into its
      // type's own decile (histogram-rule cuts, exact integers) — the
      // psi reference-binning step standalone, the transform a
      // float-interpolating discretizer can never replay exactly.
      Profile.quantileBins(events(s, d), Seq("event_type"),
          "event_id", "value", bins = 10)
        .orderBy("event_id")
    },
      // q224: the q190 cut derivation + strictly-below bin count.
      """WITH b AS (
        |  SELECT event_type AS k, event_id,
        |    CAST(round(value * 1000000) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT k, v, count(*) AS c FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT k, v,
        |    sum(c) OVER (PARTITION BY k ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY k) AS n
        |  FROM c),
        |cuts AS (
        |  SELECT k, p, min(v) AS cut
        |  FROM cum, unnest([100,200,300,400,500,600,700,800,900]) AS t(p)
        |  WHERE cum >= (p * n + 999) // 1000
        |  GROUP BY k, p)
        |SELECT b.event_type, b.event_id, b.v AS value_micro,
        |  CAST(count(cuts.cut) AS INTEGER) AS bin
        |FROM (SELECT k AS event_type, event_id, v FROM b) b
        |LEFT JOIN cuts ON cuts.k = b.event_type AND b.v > cuts.cut
        |GROUP BY b.event_type, b.event_id, b.v
        |ORDER BY b.event_id""".stripMargin),

    QuerySpec("q219_theil_sen", (s, d) => {
      // Theil–Sen robust trend per event type over the DAILY value
      // series (integer micro means — all-pairs slopes are defined on
      // aggregated buckets, never raw events; the operator refuses
      // oversized keys): median pairwise slope by the histogram rule,
      // one glitched day cannot bend it. Exact integer end to end.
      val day = events(s, d).select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("t"),
          expr("CAST(round(value * 1e6) AS BIGINT)").as("vm"))
        .groupBy("event_type", "t")
        .agg(expr("sum(vm) div count(1)").as("v"))
      Profile.theilSenTrend(day, Seq("event_type"), "t", "v")
        .orderBy("event_type")
    },
      // q219: the same daily integer means, all-pairs truncating slopes,
      // histogram-rule median.
      """WITH day AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS t,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) // count(*)
        |      AS BIGINT) AS vm
        |  FROM events GROUP BY 1, 2),
        |q AS (SELECT event_type, t,
        |        CAST(round(CAST(vm AS DOUBLE) * 1e6) AS BIGINT) AS v
        |      FROM day),
        |p AS (
        |  SELECT a.event_type, ((b.v - a.v) * 1000) // (b.t - a.t) AS s
        |  FROM q a JOIN q b ON a.event_type = b.event_type AND a.t < b.t),
        |c AS (SELECT event_type, s, count(*) AS c FROM p GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, s,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS np
        |  FROM c)
        |SELECT event_type,
        |  CAST(min(s) AS BIGINT) AS slope_milli_micro,
        |  CAST(max(np) AS BIGINT) AS n_pairs
        |FROM w WHERE cum >= (500 * np + 999) // 1000
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    QuerySpec("q220_mutual_information", (s, d) => {
      // Exact MI between lang and source — the "does this feature carry
      // signal about that one" number, on the PMI/JS integer seam: one
      // micro-nat ln per distinct cell, DECIMAL weighted sum, one
      // truncating division by N.
      Profile.mutualInformation(t(s, d, "documents"), "lang", "source")
    },
      // q220: the same cells/marginals and the micro-nat seam.
      """WITH b AS (
        |  SELECT coalesce(CAST(lang AS VARCHAR), '<NULL>') AS a,
        |         coalesce(CAST(source AS VARCHAR), '<NULL>') AS g
        |  FROM documents),
        |cells AS (SELECT a, g, count(*) AS nab FROM b GROUP BY 1, 2),
        |ma AS (SELECT a, count(*) AS na FROM b GROUP BY 1),
        |mb AS (SELECT g, count(*) AS nb FROM b GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM b)
        |SELECT CAST(max(tot.n) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(CAST(nab AS HUGEINT) *
        |      CAST(round(ln((CAST(nab AS DOUBLE) * tot.n) /
        |        (CAST(na AS DOUBLE) * nb)) * 1e6, 0) AS BIGINT))
        |    // max(tot.n) AS BIGINT) AS mi_micro
        |FROM cells JOIN ma USING (a) JOIN mb USING (g) CROSS JOIN tot""".stripMargin),

    QuerySpec("q221_snapshot_diff", (s, d) => {
      // Keyed snapshot diff with planted edits: every 11th doc removed,
      // every 7th text edited, every 13th lang swapped, ids < 20 re-added
      // under the RESERVED negative range (-id-1 — real doc_ids are
      // non-negative, so the plant can never collide with a corpus id
      // and violate snapshotDiff's unique-key precondition at any sf) —
      // added/removed/changed rows with the changed column names;
      // unchanged rows (the table, at scale) are omitted.
      val a = t(s, d, "documents")
      val b = a.where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [edited]")))
            .otherwise(col("text")).as("text"),
          when(col("doc_id") % 13 === 0, lit("xx")).otherwise(col("lang"))
            .as("lang"),
          col("source"), col("n_chars"))
        .unionByName(a.where(col("doc_id") < 20)
          .select((-col("doc_id") - 1).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      Profile.snapshotDiff(a, b, "doc_id",
          Seq("text", "lang", "source", "n_chars"))
        .orderBy("doc_id")
    },
      // q221: the same plants, one FULL OUTER join, the same per-column
      // IS DISTINCT FROM list.
      """WITH a AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END AS text,
        |    CASE WHEN doc_id % 13 = 0 THEN 'xx' ELSE lang END AS lang,
        |    source, n_chars
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT -doc_id - 1, text, lang, source, n_chars
        |  FROM documents WHERE doc_id < 20),
        |j AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN concat_ws(',',
        |            CASE WHEN a.text IS DISTINCT FROM b.text THEN 'text' END,
        |            CASE WHEN a.lang IS DISTINCT FROM b.lang THEN 'lang' END,
        |            CASE WHEN a.source IS DISTINCT FROM b.source THEN 'source' END,
        |            CASE WHEN a.n_chars IS DISTINCT FROM b.n_chars THEN 'n_chars' END)
        |          <> '' THEN 'changed' END AS status,
        |    CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
        |         THEN concat_ws(',',
        |            CASE WHEN a.text IS DISTINCT FROM b.text THEN 'text' END,
        |            CASE WHEN a.lang IS DISTINCT FROM b.lang THEN 'lang' END,
        |            CASE WHEN a.source IS DISTINCT FROM b.source THEN 'source' END,
        |            CASE WHEN a.n_chars IS DISTINCT FROM b.n_chars THEN 'n_chars' END)
        |         ELSE '' END AS changed_cols
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, status, changed_cols FROM j
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin),

    QuerySpec("q214_table_checksum", (s, d) => {
      // Order-independent replication checksum over lineitem's key
      // columns: one scan, three independent folds (count, xor, modular
      // sum of 60-bit row digests with explicit NULL sentinels) — the
      // "did the copy land identical" verifier, layout- and
      // order-invariant by construction.
      Profile.tableChecksum(t(s, d, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_returnflag"))
    },
      // q214: the identical canonicalization, digest, and three folds.
      """WITH d AS (
        |  SELECT ('0x' || substr(md5(
        |    concat_ws('|',
        |      coalesce(CAST(l_orderkey AS VARCHAR), '<NULL>'),
        |      coalesce(CAST(l_partkey AS VARCHAR), '<NULL>'),
        |      coalesce(CAST(l_suppkey AS VARCHAR), '<NULL>'),
        |      coalesce(CAST(l_quantity AS VARCHAR), '<NULL>'),
        |      coalesce(CAST(l_returnflag AS VARCHAR), '<NULL>'))),
        |    1, 15))::BIGINT AS d
        |  FROM lineitem)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  coalesce(bit_xor(d), 0) AS xor_digest,
        |  CAST(coalesce(sum(CAST(d AS HUGEINT)), 0)
        |    % 2305843009213693951 AS BIGINT) AS sum_digest_mod
        |FROM d""".stripMargin),

    QuerySpec("q195_winsorize", (s, d) => {
      // Winsorization — the TRANSFORM beside q183's flags: event values
      // clip to their type's [p05, p95] histogram-rule cuts, exact
      // integers end to end, so one glitched value can't stretch a
      // downstream normalization.
      Profile.winsorizeReport(events(s, d), Seq("event_type"),
          "event_id", "value", loPermille = 50, hiPermille = 950)
        .orderBy("event_id")
    },
      // q195: the q112 histogram cuts at 50/950 permille + integer clamp.
      """WITH b AS (
        |  SELECT event_type, event_id,
        |    CAST(round(value * 1e6) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT event_type, v, count(*) AS c FROM b GROUP BY 1, 2),
        |hc AS (
        |  SELECT event_type, v,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM h),
        |lo AS (SELECT event_type, min(v) AS lo_micro FROM hc
        |       WHERE cum >= (50 * n + 999) // 1000 GROUP BY event_type),
        |hi AS (SELECT event_type, min(v) AS hi_micro FROM hc
        |       WHERE cum >= (950 * n + 999) // 1000 GROUP BY event_type)
        |SELECT b.event_type, b.event_id, b.v AS value_micro,
        |  lo.lo_micro, hi.hi_micro,
        |  greatest(lo.lo_micro, least(hi.hi_micro, b.v)) AS clipped_micro
        |FROM b JOIN lo USING (event_type) JOIN hi USING (event_type)
        |ORDER BY event_id""".stripMargin),

    QuerySpec("q197_hll_merge", (s, d) => {
      // The sketch's whole point, gated: the even half's HLL register
      // table persists ONCE; the odd batch's registers union in and
      // re-max (the mergeable-state contract — no history rescan), and
      // the merged estimate must equal the full-corpus estimate
      // EXACTLY, because register state is order- and
      // partition-independent by construction.
      val docs = t(s, d, "documents")
      def toks(df: DataFrame) = df.select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val path = Fixtures.once(d, "hll_regs_even") {
        HeavyHitters.hllRegisters(toks(docs.where(col("doc_id") % 2 === 0)),
            Seq("source"), "token")
          .write.parquet(_)
      }
      val fresh = HeavyHitters.hllRegisters(
        toks(docs.where(col("doc_id") % 2 === 1)), Seq("source"), "token")
      val merged = s.read.parquet(path).unionByName(fresh)
        .groupBy(col("source"), col("reg")).agg(max(col("val")).as("val"))
      HeavyHitters.hllEstimateFromRegisters(merged, Seq("source"))
        .orderBy("source")
    },
      // q197: register merge is invisible to the estimator — the oracle is
      // simply the full-corpus register build + the shared estimator SQL.
      s"""WITH $hllRegisterCtes
        |SELECT source, registers_set,
        |  ${graft.pipeline.Graph.hllEstimateSql} AS est_micro
        |FROM est ORDER BY source""".stripMargin),

    QuerySpec("q190_psi_drift", (s, d) => {
      // Population stability index per event type between the month's
      // two halves, with a planted 2x value regression on 'error'
      // events in the second half so the positive branch provably
      // fires: reference-decile bins, +1-smoothed counts, exact
      // cross-multiplied integer PSI.
      val ev = events(s, d).select(col("event_type"), col("ts"),
        col("value"))
      val cut = lit("2024-01-16").cast("timestamp")
      val aSlice = ev.where(col("ts") < cut)
      val bSlice = ev.where(col("ts") >= cut)
        .withColumn("value",
          when(col("event_type") === "error", col("value") * 2)
            .otherwise(col("value")))
      Profile.psiDriftReport(aSlice, bSlice, Seq("event_type"), "value",
          bins = 10)
        .orderBy("event_type")
    },
      // q190: reference-decile cuts by the q112 histogram rule, +1
      // smoothed counts, the exact cross-multiplied integer PSI with one
      // micro-nat ln per bin.
      """WITH va AS (
        |  SELECT event_type, CAST(round(value * 1e6) AS BIGINT) AS v
        |  FROM events
        |  WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL),
        |vb AS (
        |  SELECT event_type,
        |    CAST(round((CASE WHEN event_type = 'error' THEN value * 2
        |                     ELSE value END) * 1e6) AS BIGINT) AS v
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
        |h AS (SELECT event_type, v, count(*) AS c FROM va GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, v,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM h),
        |cuts AS (
        |  SELECT event_type, p, min(v) AS cut
        |  FROM cum,
        |    (SELECT unnest([100, 200, 300, 400, 500, 600, 700, 800, 900]) AS p) ps
        |  WHERE cum >= (p * n + 999) // 1000 GROUP BY 1, 2),
        |ba AS (
        |  SELECT va.event_type,
        |    (SELECT count(*) FROM cuts
        |     WHERE cuts.event_type = va.event_type AND va.v > cuts.cut) AS bin
        |  FROM va),
        |bb AS (
        |  SELECT vb.event_type,
        |    (SELECT count(*) FROM cuts
        |     WHERE cuts.event_type = vb.event_type AND vb.v > cuts.cut) AS bin
        |  FROM vb
        |  WHERE vb.event_type IN (SELECT DISTINCT event_type FROM cuts)),
        |frame AS (
        |  SELECT DISTINCT cuts.event_type, b.bin
        |  FROM cuts, (SELECT unnest(range(0, 10)) AS bin) b),
        |cnts AS (
        |  SELECT f.event_type, f.bin,
        |    coalesce(na.c, 0) AS na, coalesce(nb.c, 0) AS nb
        |  FROM frame f
        |  LEFT JOIN (SELECT event_type, bin, count(*) AS c
        |             FROM ba GROUP BY 1, 2) na USING (event_type, bin)
        |  LEFT JOIN (SELECT event_type, bin, count(*) AS c
        |             FROM bb GROUP BY 1, 2) nb USING (event_type, bin)),
        |tot AS (SELECT event_type, sum(na) AS ta, sum(nb) AS tb
        |        FROM cnts GROUP BY 1),
        |termed AS (
        |  SELECT c.event_type, t.ta, t.tb,
        |    CAST((c.na + 1) AS HUGEINT) * (t.tb + 10) AS pn,
        |    CAST((c.nb + 1) AS HUGEINT) * (t.ta + 10) AS qn
        |  FROM cnts c JOIN tot t USING (event_type)),
        |t2 AS (
        |  SELECT event_type, ta, tb,
        |    (pn - qn) * CAST(round(ln(CAST(pn AS DOUBLE) / CAST(qn AS DOUBLE))
        |      * 1e6) AS BIGINT) AS term
        |  FROM termed)
        |SELECT event_type,
        |  CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b,
        |  CAST(sum(term) // (CAST(max(ta) + 10 AS HUGEINT) * (max(tb) + 10))
        |    AS BIGINT) AS psi_micro
        |FROM t2 GROUP BY event_type ORDER BY event_type""".stripMargin),

    QuerySpec("q169_fk_integrity", (s, d) => {
      // Cross-table integrity before a join eats the evidence: orders ->
      // customer with planted corruption (every 997th key NULLed, every
      // 1000th pointed out of range) so all four counters are nonzero;
      // the parent reduces to distinct keys, the orphan check is one
      // compact anti-join.
      val orders = t(s, d, "orders")
      val planted = orders.select(
        when(col("o_orderkey") % 997 === 0, lit(null).cast("long"))
          .when(col("o_orderkey") % 1000 === 0, col("o_custkey") + 10000000L)
          .otherwise(col("o_custkey")).as("k"))
      Profile.fkIntegrityReport(planted, t(s, d, "customer"), "k", "c_custkey")
    },
      // q169: the same key planting (null rule wins over the orphan rule),
      // distinct parent keys, NOT IN orphan counts.
      """WITH ck AS (
        |  SELECT CASE WHEN o_orderkey % 997 = 0 THEN NULL
        |              WHEN o_orderkey % 1000 = 0 THEN o_custkey + 10000000
        |              ELSE o_custkey END AS k
        |  FROM orders),
        |pk AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey IS NOT NULL),
        |base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys
        |  FROM ck),
        |o AS (
        |  SELECT CAST(count(*) AS BIGINT) AS orphan_rows,
        |    CAST(count(DISTINCT k) AS BIGINT) AS orphan_keys
        |  FROM ck WHERE k IS NOT NULL AND k NOT IN (SELECT c_custkey FROM pk))
        |SELECT * FROM base, o""".stripMargin),

    QuerySpec("q127_table_profile", (s, d) => {
      // One-pass table profile over orders: rows, nulls, exact distincts,
      // native-typed min/max per column — one scan, one aggregate, where
      // a per-column profiler loop would scan the table five times.
      Profile.tableProfile(spread(t(s, d, "orders")),
          Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority", "o_orderdate"))
        .orderBy("col_name")
    },
      // q127: one UNION branch per column replays the same counts and the
      // native-then-string min/max rendering.
      """WITH p AS (
        |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |    count(*) - count(o_orderkey) AS n_nulls,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_value
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |    count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority),
        |    CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |    count(DISTINCT o_orderdate),
        |    CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
        |  FROM orders)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_nulls AS BIGINT) AS n_nulls,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  min_value, max_value
        |FROM p ORDER BY col_name""".stripMargin)
  )
}
