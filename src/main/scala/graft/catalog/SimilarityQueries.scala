package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{Search, Similarity, TextAnalysis}
import Support._

/** Vector similarity ([[graft.pipeline.Similarity]]): ANN, IVF, quantization,
  * k-means (flat and two-level) and semantic dedup. */
private[catalog] object SimilarityQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q27_ann_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "vec_id", "embedding", 5)
        .select("query_id", "rank", "neighbor_id")
    },
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS sim
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    QuerySpec("q28_embed_near_pairs", (s, d) => {
      Similarity.bruteForceNearPairs(t(s, d, "embeddings"), "vec_id", "embedding", 0.42)
        .select("id_a", "id_b")
    },
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.42
        |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("q29_lsh_near_pairs", (s, d) => {
      Similarity.lshNearPairs(t(s, d, "embeddings"), "vec_id", "embedding", 64, 0.42)
        .select("id_a", "id_b")
    },
      // The LSH path is gated against the same exact-pair oracle as q28: at the
      // auto-sized planes/tables the sketch must retrieve every true pair.
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.42
        |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("q33_ivf_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      // Full oracle since round 9: the DuckDB SQL (see `ivfOracleSql`)
      // replays the ENTIRE pipeline — strided seeding, 10 Lloyd
      // iterations, replica-3 assignment, 12-probe search, exact rerank —
      // so these parameters and the oracle's constants must only change
      // together. Recall vs q27 stays gated >= 0.95 in PipelineSuite;
      // cell-join cost is the scale win, replicas=3 multi-assignment buys
      // back cell-boundary recall without widening every probe set.
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "vec_id", "embedding", 5, nlist = 32, nprobe = 12, replicas = 3)
        .select("query_id", "rank", "neighbor_id")
    },
      ivfOracleSql),

    QuerySpec("q104_ivf_from_index", (s, d) => {
      // The q33 search served from a PERSISTED index: centroids + cell
      // assignments built once to parquet, queries probe the stored cells
      // — no refit, no corpus re-assignment. Same parameters as q33, so
      // the same full-pipeline DuckDB replay gates it; identical results
      // to the one-shot path by construction (deterministic fit).
      val emb = t(s, d, "embeddings")
      val path = Fixtures.once(d, "ivf_index") {
        Similarity.buildIvfIndex(emb, "vec_id", "embedding", _, nlist = 32, replicas = 3)
      }
      Similarity.ivfTopKFromIndex(s, path, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, nprobe = 12)
        .select("query_id", "rank", "neighbor_id")
    },
      // q104 serves the SAME search from the persisted index — the identical
      // full-pipeline replay gates it (deterministic fit ⇒ identical cells).
      ivfOracleSql),

    QuerySpec("q78_cluster_assign", (s, d) => {
      // Corpus clustering for mixture analysis: the q33 centroid fit, then
      // a zero-shuffle map-side argmax assigns every vector a cluster. The
      // oracle replays the full Lloyd chain (shared CTE prefix with q33)
      // and the same (sim desc, cell asc) argmax tie-break.
      Similarity.clusterAssign(t(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 32)
    },
      clusterOracleSql),

    QuerySpec("q80_quantize_int8", (s, d) => {
      // Symmetric int8 quantization: the 4x memory path for ANN indexes.
      // All per-element double arithmetic, so the oracle replays every
      // quantized value bit-for-bit. The gate emits SCALAR digests of the
      // quantized vector (length, sum, min, max, and a position-weighted
      // dot with 1..n) rather than the array itself: the driver's compare
      // sorts rows by every output column, and an array-typed column
      // crashes that sort (pandas cannot factorize ndarrays — the r9
      // q80 driver error). The digest set still pins every element: the
      // 1..n dot catches any permutation or single-element drift the sum
      // alone would miss.
      val q = Similarity.quantizeInt8(col("embedding"))
      val qa = col("qa")
      t(s, d, "embeddings")
        .select(col("vec_id"), q.getField("scale").as("scale"),
          q.getField("q").as("qa"))
        .select(col("vec_id"), col("scale"),
          size(qa).cast("long").as("q_len"),
          aggregate(qa, lit(0L), (acc, x) => acc + x).as("q_sum"),
          array_min(qa).as("q_min"),
          array_max(qa).as("q_max"),
          aggregate(
            zip_with(qa, sequence(lit(1), size(qa)),
              (x, i) => x.cast("long") * i),
            lit(0L), (acc, x) => acc + x).as("q_dot"))
        .orderBy("vec_id")
    },
      // q80: float->double widening is exact and both engines round half
      // away from zero, so every quantized element replays bit-for-bit; the
      // scalar digests (len/sum/min/max/1..n-dot — see the query comment)
      // replay over those same elements. Integer digests are CAST to BIGINT:
      // DuckDB's list_sum over integers returns HUGEINT, which fetchdf turns
      // into float64 and the driver's dtype-sensitive hash then rejects
      // (the q64 lesson).
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e),
        |qq AS (
        |  SELECT vec_id, scale,
        |    CASE WHEN scale = 0
        |         THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v, x -> CAST(round(x / scale) AS INT)) END AS q
        |  FROM m)
        |SELECT vec_id, scale,
        |  CAST(len(q) AS BIGINT) AS q_len,
        |  CAST(coalesce(list_sum(list_transform(q, x -> CAST(x AS BIGINT))), 0) AS BIGINT) AS q_sum,
        |  list_min(q) AS q_min,
        |  list_max(q) AS q_max,
        |  CAST(coalesce(list_sum(list_transform(q, (x, i) -> CAST(x AS BIGINT) * i)), 0) AS BIGINT) AS q_dot
        |FROM qq ORDER BY vec_id""".stripMargin),

    QuerySpec("q91_pair_set_eval", (s, d) => {
      // Retrieval QA: precision/recall of a candidate pair set vs exact
      // truth. The predicted set is DELIBERATELY degraded from the exact
      // near-pairs (every (a+b)%5==0 pair dropped, fake out-of-corpus
      // pairs planted), so tp/fp/fn are all nonzero and the oracle checks
      // the metric arithmetic itself, not a trivial all-match.
      val truth = Similarity.bruteForceNearPairs(
        t(s, d, "embeddings"), "vec_id", "embedding", 0.42)
        .select("id_a", "id_b")
      val degraded = truth.where((col("id_a") + col("id_b")) % 5 =!= 0)
      val fakes = t(s, d, "embeddings")
        .where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("id_a"), (col("vec_id") + 100000L).as("id_b"))
      graft.pipeline.Eval.pairSetMetrics(degraded.union(fakes), truth)
    },
      // q91: exact truth + the same deterministic degradation, metrics as
      // set counts; quotients of exact longs replay bit-for-bit.
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), truth AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.42
        |), pred AS (
        |  SELECT id_a, id_b FROM truth WHERE (id_a + id_b) % 5 <> 0
        |  UNION ALL
        |  SELECT vec_id AS id_a, vec_id + 100000 AS id_b FROM embeddings
        |  WHERE vec_id % 50 = 0
        |), m AS (
        |  SELECT
        |    (SELECT count(*) FROM pred JOIN truth USING (id_a, id_b)) AS tp,
        |    (SELECT count(*) FROM pred ANTI JOIN truth USING (id_a, id_b)) AS fp,
        |    (SELECT count(*) FROM truth ANTI JOIN pred USING (id_a, id_b)) AS fn
        |)
        |SELECT tp, fp, fn,
        |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
        |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall
        |FROM m""".stripMargin),

    QuerySpec("q97_hash_embed", (s, d) => {
      // Feature-hashing embeddings: model-free 32-dim signed bucket counts
      // per doc, one map pass, no explode. Emitted as an ordered CSV
      // string plus the exact L2^2 so the oracle compare is
      // element-ORDER-sensitive (the harness sorts list cells before
      // hashing, which would wash out element order).
      val emb = Similarity.hashEmbed(col("text"), 32)
      spread(t(s, d, "documents"))
        .select(col("doc_id"), emb.as("e"))
        .select(col("doc_id"),
          concat_ws(",", col("e")).as("emb_csv"),
          aggregate(col("e"), lit(0L), (a, x) => a + x * x).as("norm_sq"))
        .orderBy("doc_id")
    },
      // q97: explode + signed bucket sums + grid reassembly in bucket order,
      // same md5 arithmetic.
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |), tb AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(token), 1, 8))::BIGINT % 32 AS bucket,
        |    CASE WHEN ('0x' || substr(md5(token), 9, 1))::BIGINT % 2 = 0
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM tk
        |), sums AS (
        |  SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS v
        |  FROM tb GROUP BY doc_id, bucket
        |), grid AS (
        |  SELECT d.doc_id, g.j, coalesce(s.v, 0) AS v
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(range(32)) AS j) g
        |  LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.bucket = g.j
        |)
        |SELECT doc_id,
        |  string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS emb_csv,
        |  CAST(sum(v * v) AS BIGINT) AS norm_sq
        |FROM grid GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("q174_prototypicality", (s, d) => {
      // The SemDeDup-family pruning signal: per label, each embedding's
      // exact integer L1 distance to the group centroid (micro seam,
      // truncating-div means) and its atypicality percentile — keep the
      // tail for diversity or drop it as noise, reproducibly on any
      // engine.
      Similarity.prototypicalityRank(t(s, d, "embeddings"),
          "vec_id", "embedding", "label")
        .orderBy("id")
    },
      // q174: the same micro quantization, truncating-div centroids, exact
      // L1 sums, and the q92 rank-permille rule.
      """WITH r AS (
        |  SELECT vec_id AS id, label,
        |    p.i AS dim, CAST(round(CAST(p.x AS DOUBLE) * 1e6) AS BIGINT) AS q
        |  FROM embeddings,
        |    unnest(list_transform(embedding, (x, i) -> {'x': x, 'i': i})) AS t(p)),
        |cent AS (
        |  SELECT label, dim, CAST(sum(q) AS BIGINT) // count(*) AS c
        |  FROM r GROUP BY 1, 2),
        |dist AS (
        |  SELECT r.id, r.label, CAST(sum(abs(r.q - cent.c)) AS BIGINT) AS dist_micro
        |  FROM r JOIN cent ON r.label = cent.label AND r.dim = cent.dim
        |  GROUP BY 1, 2),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM dist GROUP BY 1)
        |SELECT dist.id, dist.label, dist.dist_micro,
        |  CAST((rank() OVER (PARTITION BY dist.label ORDER BY dist.dist_micro) - 1)
        |    * 1000 AS BIGINT) // greatest(n.n - 1, 1) AS atypicality_permille
        |FROM dist JOIN n ON dist.label = n.label
        |ORDER BY dist.id""".stripMargin),

    QuerySpec("q184_random_projection", (s, d) => {
      // Johnson–Lindenstrauss sparse sign projection 64 → 16: the
      // dimensionality-reduction step in front of ANN when the raw
      // embedding is too wide to move at corpus scale. The ±1/0 matrix
      // derives from md5 (1/6, 2/3, 1/6 probabilities), never a driver
      // RNG; components are exact integer micro sums.
      Similarity.randomProjectSparse(t(s, d, "embeddings"), "vec_id",
          "embedding", inDims = 64, outDims = 16)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id", "k")
    },
      // q184: the md5-derived sparse sign matrix (mod-6 on the q49 hex
      // window), 0-based dims (p.i − 1 aligns DuckDB's 1-based lambda
      // index with posexplode), exact integer micro sums.
      raw"""WITH $sparseProjectionCtes
        |SELECT r.vec_id, CAST(nz.k AS BIGINT) AS k,
        |  CAST(sum(nz.sign * r.q) AS BIGINT) AS proj_micro
        |FROM r JOIN nz ON r.dim = nz.dim
        |GROUP BY 1, 2 ORDER BY vec_id, k""".stripMargin),

    QuerySpec("q200_ann_from_codes", (s, d) => {
      // The quantized-ANN lifecycle CLOSED (the q104/q154 sidecar
      // convention applied to q166): the corpus's int8 codes persist
      // ONCE at build time — 4× smaller than the float vectors — and
      // every query serves its coarse stage from the stored code table;
      // only the re-rank touches full-precision vectors, k·expand rows
      // per query. Deterministic quantization means the stored codes
      // can never drift from a recompute, so the oracle is q166's,
      // verbatim.
      val emb = t(s, d, "embeddings")
      val path = Fixtures.once(d, "int8_codes") {
        emb.select(col("vec_id").as("neighbor_id"),
            Similarity.quantizeInt8(col("embedding")).getField("q").as("cq"))
          .write.parquet(_)
      }
      Similarity.quantizedRerankTopKFromCodes(
          emb.where(col("vec_id") < 10), s.read.parquet(path), emb,
          "vec_id", "vec_id", "embedding", k = 5, expand = 4)
        .orderBy("query_id", "rank")
    },
      // q200: serving from the STORED code table must equal the on-the-fly
      // quantized path exactly — deterministic quantization, same oracle.
      quantizedRerankOracleSql),

    QuerySpec("q204_kmeans_lloyd", (s, d) => {
      // Distributed Lloyd k-means over the FULL embedding corpus — the
      // scale path beside the q33 driver-sample fit: map-side integer
      // argmin against broadcast centroids, one (cluster, dim)
      // partial-sum exchange per iteration, k×dim longs of driver state.
      // Exact integer arithmetic end to end (micro seam, struct-least
      // ties, truncating-div centroids, md5-seeded init), so the DuckDB
      // iteration CTEs replay assignments and centroids bit-for-bit.
      Similarity.kmeansLloydAssign(t(s, d, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 3)
        .orderBy("id")
    },
      // q204: the full Lloyd recurrence as iteration CTEs — md5-seeded
      // init, integer L2 argmin with (d2, cluster) ties, truncating-div
      // centroid updates with empty-cluster carry, final assignment
      // against the post-update centroids.
      lloydAssignOracleSql),

    QuerySpec("q232_retrieval_lifecycle", (s, d) => {
      // The retrieval lifecycle COMPOSED as one audited chain (the r13
      // verdict's missing gate): chunk (q53 machinery) → feature-hash
      // embed (q97) → integer-Lloyd IVF index PERSISTED once (q104's
      // build-once convention on the q204 arithmetic) → serve probes
      // ONLY stored cells → per-row exact-hit flag against the
      // brute-force truth (the q196 recall read). Composition is where
      // lifecycle bugs hide (stale index generation, dim mismatch), so
      // the oracle replays the ENTIRE chain from the shared SQL
      // fragments. Integer end to end: hash-count vectors, micro
      // quantization, squared-L2 distances, (d2, cid) ties.
      def d2(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v)
      val chunks = TextAnalysis.chunkByTokens(
          t(s, d, "documents"), "doc_id", "text", 32, 8)
        .select((col("doc_id") * 1000000L + col("chunk_idx")).as("cid"),
          col("doc_id"), col("chunk_idx"),
          Similarity.hashEmbed(col("chunk_text"), 16).as("e"))
      val path = Fixtures.once(d, "retrieval_index") { p =>
        val cents = Similarity.kmeansLloydCentroids(chunks,
          "cid", "e", k = 8, iters = 2, seed = "rl")
        writeMatrix(s, cents, s"$p/centroids")
        Similarity.kmeansAssign(chunks, "cid", "e", cents)
          .select(col("id").as("cid"), col("cluster"))
          .join(chunks.select(col("cid"), col("e")), "cid")
          .write.parquet(s"$p/cells")
      }
      // SERVE: query text re-chunks and re-embeds FRESH (a real query
      // arrives as text); index cells and centroids come only from
      // storage. Queries: the first chunk of docs 0–4 — a bounded query
      // set at every sf.
      val cents = readMatrix(s, s"$path/centroids")
      val qq = chunks.where(col("doc_id") < 5 && col("chunk_idx") === 0)
        .select(col("cid").as("qid"),
          transform(col("e"), v => v * 1000000L).as("qv"))
      // nprobe=2 nearest stored centroids per query — exact integer
      // argsort over the 8-row broadcast matrix, inline.
      val probeStructs = cents.zipWithIndex.map { case (c, i) =>
        struct(d2(col("qv"), typedlit(c.toSeq)).as("d2"),
          lit(i).as("cluster"))
      }
      val probed = qq
        .withColumn("__ps", slice(array_sort(array(probeStructs: _*)), 1, 2))
        .select(col("qid"), col("qv"),
          explode(col("__ps")).as("__p"))
        .select(col("qid"), col("qv"), col("__p.cluster").as("cluster"))
      val cells = s.read.parquet(s"$path/cells")
        .select(col("cid"), col("cluster"),
          transform(col("e"), v => v * 1000000L).as("cv"))
      // Top-3 per query through the bounded-heap aggregate (q27's
      // machinery): each task reduces its cell slice to a 3-entry heap
      // per query BEFORE the exchange, so the aggregate ships
      // O(tasks × queries × 3) rows. The former per-qid window funneled
      // the full probed/truth cell set into |queries| sort tasks — the
      // r15 sf10 spill (q232 1.26 s at sf1 → 40.4 s at sf10, exp 1.5).
      // Exactness: serve/truth d2 compares two micro-scaled (×10⁶)
      // integer vectors, so every distance is a multiple of 10¹² with
      // mantissa 5¹²·Σdiff² < 2⁵³ — the double-scored heap is exact, and
      // (−d2 desc, cid asc) is the oracle's (d2 asc, cid asc) tie rule.
      def top3(scored: DataFrame): DataFrame =
        scored.groupBy(col("qid"))
          .agg(graft.functions.TopKFunctions.topk_by_score(
            -col("d2"), col("cid"), 3).as("__topk"))
          .select(col("qid"), posexplode(col("__topk")).as(Seq("__p", "__nb")))
          .select(col("qid"), (col("__p") + 1).cast("int").as("rank"),
            col("__nb.neighbor_id").as("cid"))
      val serve = top3(probed.join(cells, Seq("cluster"))
        .where(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), d2(col("qv"), col("cv")).as("d2")))
      // Brute-force truth over ALL stored cells (5 bounded queries ×
      // corpus — linear), same exclusion, same tie rule.
      val exact3 = top3(cells.join(broadcast(qq), col("cid") =!= col("qid"))
          .select(col("qid"), col("cid"), d2(col("qv"), col("cv")).as("d2")))
        .select(col("qid"), col("cid"), lit(1).as("__hit"))
      serve.join(exact3, Seq("qid", "cid"), "left")
        .select(col("qid").as("query_id"),
          col("rank").cast("int").as("rank"),
          col("cid").as("neighbor_id"),
          coalesce(col("__hit"), lit(0)).cast("int").as("exact_hit"))
        .orderBy("query_id", "rank")
    },
      // q232: the composed retrieval lifecycle — chunk → hash-embed →
      // Lloyd IVF → probe stored cells → exact-hit flag, all from the
      // shared fragments (see retrievalLifecycleOracleSql).
      retrievalLifecycleOracleSql),

    QuerySpec("q237_kmeans_twolevel", (s, d) => {
      // The Lloyd trainer for cluster counts PAST driver-resident
      // centroids (auto-k makes k ∝ n — at 100 TB the flat trainer's
      // k×dim per-iteration collect is a hard driver OOM): coarse
      // integer Lloyd at ⌈√k⌉ shards (the only level whose centroids
      // touch the driver), then kFine DataFrame-resident centroids per
      // shard — shard-keyed equi-join argmin, min(struct) partial
      // aggregate, (shard, fcl, dim) truncating-div updates that land
      // back in a DataFrame. Same integer determinism as q204, so the
      // DuckDB per-shard recurrence replays bit-for-bit.
      Similarity.kmeansTwoLevelAssign(t(s, d, "embeddings"),
          "vec_id", "embedding", kCoarse = 3, kFine = 3,
          itersCoarse = 2, itersFine = 2)
        .orderBy("id")
    },
      // q237: the two-level trainer replay — coarse Lloyd CTEs at km|c,
      // shard argmin, per-shard fine recurrence, global id = shard*3+fcl.
      s"""WITH ${embeddingsExCte},
        |${twoLevelOracleCtes(kc = "3", kf = "3", itersC = 2, itersF = 2,
             seed = "km")}
        |${twoLevelFinalAssignSql(kf = 3, itersF = 2)}
        |ORDER BY id""".stripMargin),

    QuerySpec("q242_twolevel_serve", (s, d) => {
      // The two-level model SERVED from storage — the q228/q234/q239
      // fit-once/serve-many convention applied to the 100×-scale
      // trainer: the coarse matrix (kc×dim longs) and the fine
      // (shard, fcl, cv) table persist once per corpus; a FRESH batch
      // (reversed vectors, offset ids — disjoint from training, like
      // q239's novel tails) is assigned with zero training: one
      // broadcast coarse argmin + one shard-keyed fine argmin. A 1-row
      // aggregate validates the stored table against the declared model
      // shape first (the q233 dense-grid convention). Deterministic
      // integers pin stored == refit: the oracle replays fit AND serve.
      val emb = t(s, d, "embeddings")
      val (coarse, fine) = twoLevelModel(s, d)
      val fresh = emb.select((col("vec_id") + 100000).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      Similarity.kmeansTwoLevelServe(fresh, "vec_id", "embedding",
          coarse, fine, kFine = 3)
        .orderBy("id")
    },
      // q242: the two-level fit CTEs (shared verbatim with q237 — stored
      // == refit is the gate's whole point), then the SERVE replay over
      // the fresh batch: micro-quantized reversed vectors at offset ids,
      // coarse argmin against c{itersC}, fine argmin against f{itersF}
      // keyed by the fresh batch's own coarse shard.
      twoLevelServeOracleSql),

    QuerySpec("q243_twolevel_refresh", (s, d) => {
      // The two-level STORE-AND-REFRESH lifecycle (q225's convention on
      // the hierarchical model): the stored model freezes; sufficient
      // statistics build per slice (even/odd ids) through the serve
      // argmin and ADD — the refreshed fine table from merged stats
      // must equal a one-step refresh over the full corpus, which is
      // what the oracle computes. History is never re-read; centroids
      // and stats stay DataFrame-resident at any k.
      val emb = t(s, d, "embeddings")
      val (coarse, fine) = twoLevelModel(s, d)
      val even = Similarity.twoLevelSuffStats(
        emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
        coarse, fine, kFine = 3)
      val odd = Similarity.twoLevelSuffStats(
        emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
        coarse, fine, kFine = 3)
      Similarity.kmeansTwoLevelRefresh(fine, even.unionByName(odd))
        .select(col("shard"), col("fcl"),
          posexplode(col("cv")).as(Seq("dim", "c")))
        .orderBy("shard", "fcl", "dim")
    },
      // q243: fit CTEs shared with q237/q242, then the one-step refresh —
      // serve-argmin assignment over the full corpus (even/odd slice stats
      // ADD to exactly this), (shard, fcl, dim) micro sums with truncating
      // div, fine clusters with no rows keeping their stored centroid.
      s"""WITH ${embeddingsExCte},
        |${twoLevelOracleCtes(kc = "3", kf = "3", itersC = 2, itersF = 2,
             seed = "km")},
        |af AS (
        |  SELECT id, shard, fcl FROM (
        |    SELECT e.id, sh.shard, c.fcl,
        |      sum((e.q - c.c) * (e.q - c.c)) AS d2
        |    FROM ex e JOIN shards sh USING (id)
        |    JOIN f2 c ON c.shard = sh.shard AND c.dim = e.dim
        |    GROUP BY e.id, sh.shard, c.fcl)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, fcl) = 1),
        |upd AS (
        |  SELECT a.shard, a.fcl, e.dim,
        |    CAST(sum(e.q) // count(*) AS BIGINT) AS cnew
        |  FROM af a JOIN ex e USING (id)
        |  GROUP BY a.shard, a.fcl, e.dim)
        |SELECT CAST(f.shard AS INTEGER) AS shard, CAST(f.fcl AS INTEGER) AS fcl,
        |  CAST(f.dim AS INTEGER) AS dim, CAST(coalesce(u.cnew, f.c) AS BIGINT) AS c
        |FROM f2 f LEFT JOIN upd u
        |  ON f.shard = u.shard AND f.fcl = u.fcl AND f.dim = u.dim
        |ORDER BY shard, fcl, dim""".stripMargin),

    QuerySpec("q244_hybrid_rrf", (s, d) => {
      // Hybrid retrieval with reciprocal-rank fusion (RRF — the standard
      // production fusion of a lexical and a dense ranked list): the
      // q154 BM25 top-10 served from the STORED weighted index fuses
      // with a dense top-10 brute-forced on 32-dim hash embeddings
      // (integer squared-L2 against the query's own hash embedding,
      // reduced through the bounded-heap aggregate — map-side heaps,
      // no corpus-sized sort or window). Fused score is
      // Σ 10⁶ DIV (60 + rank) over the lists containing the doc; rank 0
      // encodes absence. Integer end to end; both lists, the fusion
      // arithmetic, and every tie rule replay verbatim in the oracle.
      val docs = t(s, d, "documents")
      val wpath = weightedIndex(s, d)
      val terms = TextAnalysis.topTokens(docs, "text", 21)
        .orderBy(desc("freq"), asc("token"))
        .collect().map(_.getString(0)).slice(17, 21).toSeq
      val bm = Search.searchBm25(s.read.parquet(s"$wpath/postings"),
          s.read.parquet(s"$wpath/doclens"), s.read.parquet(s"$wpath/stats"),
          terms, 10, 1200000L, 750000L)
        .withColumn("bm25_rank", row_number().over(
          Window.orderBy(desc("score_micro"), asc("id"))).cast("int"))
        .select(col("id").as("doc_id"), col("bm25_rank"))
      val qv = Similarity.hashEmbed(lit(terms.mkString(" ")), 32)
      val dn = docs
        .select(col("doc_id"),
          aggregate(zip_with(Similarity.hashEmbed(col("text"), 32), qv,
              (x, y) => (x - y) * (x - y)),
            lit(0L), (a, v) => a + v).as("d2"))
        .groupBy()
        .agg(graft.functions.TopKFunctions.topk_by_score(
          -col("d2"), col("doc_id"), 10).as("__topk"))
        .select(posexplode(col("__topk")).as(Seq("__p", "__nb")))
        .select(col("__nb.neighbor_id").as("doc_id"),
          (col("__p") + 1).cast("int").as("dense_rank"))
      bm.join(dn, Seq("doc_id"), "outer")
        .select(col("doc_id"),
          coalesce(col("bm25_rank"), lit(0)).as("bm25_rank"),
          coalesce(col("dense_rank"), lit(0)).as("dense_rank"))
        .withColumn("rrf_micro",
          when(col("bm25_rank") > 0,
            expr("1000000 DIV (60 + bm25_rank)")).otherwise(lit(0L)) +
          when(col("dense_rank") > 0,
            expr("1000000 DIV (60 + dense_rank)")).otherwise(lit(0L)))
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("rrf_micro"), asc("doc_id"))).cast("int"))
        .where(col("rank") <= 10)
        .select(col("rank"), col("doc_id"), col("bm25_rank"),
          col("dense_rank"), col("rrf_micro"))
        .orderBy("rank")
    },
      // q244: BM25 CTEs + q97 hash-embed grid + RRF fusion, every stage
      // integer and tie-ruled — see hybridRrfOracleSql.
      hybridRrfOracleSql),

    QuerySpec("q238_semdedup_twolevel", (s, d) => {
      // SemDeDup on the HIERARCHICAL trainer — the 100×-corpus path:
      // flatKMax=1 forces the two-level route at the derived k (⌈500/64⌉
      // = 8 → 3 coarse shards × 3 fine at sf0.01, 32 → 6 × 6 at sf0.1),
      // so this gate pins the exact
      // end-to-end chain a driver-bounded 100-TB run would execute —
      // two-level assignment, within-cluster cosine pairs at the q28
      // seam, component collapse, survivor anti-join.
      Similarity.semDeDupWithinClusters(t(s, d, "embeddings"),
          "vec_id", "embedding", iters = 2, threshold = 0.42,
          flatKMax = 1)
        .select(col("vec_id"))
        .orderBy("vec_id")
    },
      // q238: q208's pair/closure tail on the TWO-LEVEL assignment: the
      // derived k splits into ⌈√k⌉ coarse shards × ⌈k/kc⌉ fine clusters
      // under flatKMax=1, as Similarity.clusterAssignForDedup splits it.
      s"""WITH RECURSIVE $semDeDupKCte,
        |${embeddingsExCte},
        |${twoLevelOracleCtes(kc = "(SELECT kc FROM semk)",
             kf = "(SELECT kf FROM semk)", itersC = 2, itersF = 2, seed = "km")},
        |af AS (
        |  SELECT id, shard * (SELECT kf FROM semk) + fcl AS cluster FROM (
        |    SELECT e.id, sh.shard, c.fcl,
        |      sum((e.q - c.c) * (e.q - c.c)) AS d2
        |    FROM ex e JOIN shards sh USING (id)
        |    JOIN f2 c ON c.shard = sh.shard AND c.dim = e.dim
        |    GROUP BY e.id, sh.shard, c.fcl)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, fcl) = 1),
        |$semDeDupTailSql""".stripMargin),

    QuerySpec("q248_semdedup_incremental", (s, d) => {
      // Incremental SemDeDup — the missing lifecycle in the dedup family
      // (exact: q74, MinHash: q103, components: q171; now the semantic
      // path): the corpus's SURVIVOR index (cluster, id, v) persists
      // once per snapshot, built through the STORED two-level model with
      // zero re-training; a fresh ingest batch (even ids verbatim vector
      // copies — guaranteed hits; odd ids reversed vectors — misses;
      // offset ids) assigns through the same frozen model and pairs ONLY
      // against its cluster's stored representatives. At 100 TB the
      // nightly ingest pays its own argmin + one cluster-keyed join,
      // never a corpus re-cluster. The oracle replays fit, corpus serve,
      // within-cluster closure, survivor selection, batch serve, and the
      // cosine probe from the raw parquet.
      val emb = t(s, d, "embeddings")
      val (coarse, fine) = twoLevelModel(s, d)
      val index = semDeDupIndex(s, d)
      val batch = emb.select((col("vec_id") + 100000).as("vec_id"),
        when(col("vec_id") % 2 === 0, col("embedding"))
          .otherwise(reverse(col("embedding"))).as("embedding"))
      Similarity.semDeDupPairsAgainstIndex(batch, "vec_id", "embedding",
          coarse, fine, kFine = 3, index, threshold = 0.42)
        .orderBy("batch_id", "index_id")
    },
      // q248: fit (two-level CTEs) + corpus SERVE assignment + q208's
      // within-cluster cosine closure → survivor index, then the batch
      // (even ids verbatim, odd reversed, +100000) serves through the same
      // final centroids and probes its cluster's survivors.
      semDeDupIncrementalOracleSql),

    QuerySpec("q252_ivf_delete_refresh", (s, d) => {
      // The vector index's delete/refresh lifecycle — the q160 takedown
      // cycle on the ANN side (the index exists to SERVE a curation loop
      // that drops documents; until now it was build-once/probe-many):
      // the stored even-id generation compacts past a takedown set (ids
      // divisible by 4 — one anti-join, centroids frozen), the odd-id
      // ingest batch assigns through the SAME stored centroids (zero
      // refit) and appends, and the probe serves from the NEW generation
      // alone. The oracle rebuilds from scratch in SQL — fit over the
      // even corpus, assignment of exactly the surviving ids — proving
      // delete + ingest + compaction equals the from-scratch index.
      val emb = t(s, d, "embeddings")
      val basePath = ivfIndexEven(s, d)
      val gen2 = Fixtures.scratch("ivf_gen2")
      Similarity.compactIvfIndex(s, basePath, gen2,
        emb.where(col("vec_id") % 4 === 0).select(col("vec_id")), "vec_id")
      Similarity.updateIvfIndex(s, gen2,
        emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
        replicas = 3)
      Similarity.ivfTopKFromIndex(s, gen2, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, nprobe = 12)
        .select("query_id", "rank", "neighbor_id")
    },
      // q252: a from-scratch SQL rebuild of the post-lifecycle index — fit
      // pinned to the even-id BASE corpus, postings to exactly the
      // surviving ids — proving delete + compaction + frozen-centroid
      // ingest equals the ground-truth index of the surviving docs.
      ivfDeleteRefreshOracleSql),

    QuerySpec("q256_ivf_compact_refresh", (s, d) => {
      // q252's takedown cycle with the centroids RECENTERED — the r17
      // verdict's #3 gap: after mass deletion the frozen routing table
      // drifts off the surviving distribution; q225's store-and-refresh
      // belongs IN the generation swap. Compaction drops the takedown
      // set (one anti-join, postings keep their stored cells) and
      // recenters each cell on its surviving members (integer micro
      // means, empty cells carry); the odd-id ingest then assigns
      // through the REFRESHED centroids, and the probe routes its
      // nprobe cells through them too. The oracle replays even fit,
      // even postings, survivor means, refreshed-routing ingest, and
      // the probe — every arithmetic step shared.
      val emb = t(s, d, "embeddings")
      val basePath = ivfIndexEven(s, d)
      val gen2 = Fixtures.scratch("ivf_gen2r")
      Similarity.compactIvfIndex(s, basePath, gen2,
        emb.where(col("vec_id") % 4 === 0).select(col("vec_id")), "vec_id",
        refreshCentroids = true)
      Similarity.updateIvfIndex(s, gen2,
        emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
        replicas = 3)
      Similarity.ivfTopKFromIndex(s, gen2, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, nprobe = 12)
        .select("query_id", "rank", "neighbor_id")
    },
      // q256: compaction + centroid refresh + refreshed-routing ingest —
      // see [[ivfCompactRefreshOracleSql]].
      ivfCompactRefreshOracleSql),

    QuerySpec("q254_twolevel_sampled_fit", (s, d) => {
      // The bounded-cost FIT path for the auto-k clusterer — the r17
      // verdict's #1 gap: auto-k makes k ∝ n, so the full-corpus
      // two-level fit is n^1.5-shaped (measured 1544 s at the 2M-vector
      // decade) while serve stays linear. A production pipeline fits on
      // a deterministic bounded sample and serves the full corpus;
      // here the trainer reads only the first 200 ids in
      // (md5('km|s|'||id), id) order — corpus-derived, RNG-free, a
      // distributed top-N whose winners alone reach the driver — and
      // every corpus row assigns through the stored model with zero
      // training. The oracle replays sample selection, the two-level
      // fit over exactly those rows, and the full-corpus serve.
      Similarity.kmeansTwoLevelAssignSampled(t(s, d, "embeddings"),
          "vec_id", "embedding", kCoarse = 3, kFine = 3,
          itersCoarse = 2, itersFine = 2, maxFitRows = 200)
        .orderBy("id")
    },
      // q254: the sampled-fit lifecycle replay — the fit CTE chain runs
      // over sx (the md5-ranked 200-id sample, DISTINCT ids so the rank
      // is over rows-as-ids exactly like the Spark top-N), and the final
      // assignment runs over the FULL ex through the sample-trained
      // (c2, f2) tables: coarse argmin, then fine argmin keyed by each
      // row's own coarse shard.
      s"""WITH ${embeddingsExCte},
        |sxid AS (
        |  SELECT id FROM (SELECT DISTINCT id FROM ex)
        |  ORDER BY md5('km|s|' || CAST(id AS VARCHAR)), id LIMIT 200),
        |sx AS MATERIALIZED (
        |  SELECT e.id, e.dim, e.q FROM ex e JOIN sxid USING (id)),
        |${twoLevelOracleCtes(kc = "3", kf = "3", itersC = 2, itersF = 2,
             seed = "km", exTable = "sx")},
        |osh AS (
        |  SELECT id, cluster AS shard FROM (
        |    SELECT e.id, c.cluster, sum((e.q - c.c) * (e.q - c.c)) AS d2
        |    FROM ex e JOIN c2 c ON e.dim = c.dim
        |    GROUP BY e.id, c.cluster)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1)
        |SELECT id, CAST(shard * 3 + fcl AS INTEGER) AS cluster, d2 FROM (
        |  SELECT e.id, sh.shard, c.fcl,
        |    CAST(sum((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS d2
        |  FROM ex e JOIN osh sh USING (id)
        |  JOIN f2 c ON c.shard = sh.shard AND c.dim = e.dim
        |  GROUP BY e.id, sh.shard, c.fcl)
        |QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, fcl) = 1
        |ORDER BY id""".stripMargin),

    QuerySpec("q228_kmeans_serve", (s, d) => {
      // The clustering model SERVED from storage: the q204 integer
      // centroid table persists once per corpus (512 longs — the q200
      // stored-code convention); every later pass is one map-side argmin
      // against the broadcast model. Deterministic integers pin stored
      // == retrained, so the oracle is q204's, verbatim.
      val emb = t(s, d, "embeddings")
      val cents = readMatrix(s, Fixtures.once(d, "lloyd_centroids_k8") {
        writeMatrix(s, Similarity.kmeansLloydCentroids(emb,
          "vec_id", "embedding", k = 8, iters = 3), _)
      })
      Similarity.kmeansAssign(emb, "vec_id", "embedding", cents)
        .orderBy("id")
    },
      // q228: the stored-model serve path must equal the q204 recompute
      // exactly — deterministic integers make the model storable at all.
      lloydAssignOracleSql),

    QuerySpec("q225_kmeans_refresh", (s, d) => {
      // The k-means STORE-AND-REFRESH lifecycle: the q204 model's
      // centroids freeze; sufficient statistics build per slice (even /
      // odd halves here) and ADD — the refreshed centroids from merged
      // stats must equal a one-step refresh over the full corpus, which
      // is what the oracle computes. History is never re-read.
      val emb = t(s, d, "embeddings")
      val cents = Similarity.kmeansLloydCentroids(emb,
        "vec_id", "embedding", k = 8, iters = 3)
      val even = Similarity.kmeansSuffStats(
        emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", cents)
      val odd = Similarity.kmeansSuffStats(
        emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding", cents)
      Similarity.kmeansRefreshCentroids(even.unionByName(odd))
        .orderBy("cluster", "dim")
    },
      // q225: the q204 Lloyd CTEs train the frozen model; the refresh over
      // merged slice stats must equal this one-step full-corpus refresh.
      s"""WITH ${lloydOracleCtes(k = "8", iters = 3, seed = "km")},
        |af AS (
        |  SELECT id, cluster FROM (
        |    SELECT e.id, c.cluster,
        |      sum((e.q - c.c) * (e.q - c.c)) AS d2
        |    FROM ex e JOIN c3 c ON e.dim = c.dim
        |    GROUP BY e.id, c.cluster)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1)
        |SELECT a.cluster, e.dim,
        |  CAST(sum(e.q) // count(*) AS BIGINT) AS c
        |FROM af a JOIN ex e USING (id)
        |GROUP BY a.cluster, e.dim
        |ORDER BY a.cluster, e.dim""".stripMargin),

    QuerySpec("q211_hard_negatives", (s, d) => {
      // Contrastive-pair mining: each query's top-3 most similar
      // DIFFERENT-label vectors — the negatives a metric-learning batch
      // wants because the encoder currently confuses them. q27's
      // broadcast+bounded-heap plan with the label inequality as a scan
      // predicate.
      val emb = t(s, d, "embeddings")
      Similarity.hardNegatives(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "vec_id", "embedding", "label", k = 3)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")
    },
      // q211: the q27 scored/ranked shape with the label-inequality
      // predicate; sim is internal (the q27 convention — ranks gate).
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS sim
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |    AND q.label IS NOT NULL AND c.label IS NOT NULL
        |    AND q.label <> c.label
        |  WHERE q.vec_id < 10)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    QuerySpec("q213_centroid_probe", (s, d) => {
      // Nearest-centroid label probe: label centroids fit on even ids
      // (integer micro, truncating div), odd ids classify by exact
      // integer L2 argmin (ties to the smaller label) — per-label
      // accuracy in exact permille, the cheapest honest embedding-
      // quality eval and the task-shaped twin of q138's drift read.
      val emb = t(s, d, "embeddings")
      Similarity.centroidLabelProbe(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", "label")
        .orderBy("label")
    },
      // q213: centroids over even ids, integer-L2 argmin with (d2, label)
      // ties over odd ids, truncating permille accuracy.
      """WITH ex AS MATERIALIZED (
        |  SELECT vec_id AS id, label, p.i - 1 AS dim,
        |    CAST(round(CAST(p.x AS DOUBLE) * 1e6) AS BIGINT) AS q
        |  FROM embeddings,
        |    unnest(list_transform(embedding, (x, i) -> {'x': x, 'i': i})) AS t(p)
        |  WHERE label IS NOT NULL),
        |cent AS (
        |  SELECT label, dim, CAST(sum(q) // count(*) AS BIGINT) AS c
        |  FROM ex WHERE id % 2 = 0 GROUP BY label, dim),
        |ev AS (SELECT id, dim, q FROM ex WHERE id % 2 = 1),
        |lab AS (SELECT DISTINCT id, label FROM ex WHERE id % 2 = 1),
        |d AS (
        |  SELECT e.id, c.label AS pred,
        |    sum((e.q - c.c) * (e.q - c.c)) AS d2
        |  FROM ev e JOIN cent c USING (dim)
        |  GROUP BY e.id, c.label),
        |a AS (
        |  SELECT id, pred FROM d
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, pred) = 1)
        |SELECT l.label,
        |  CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(sum(CASE WHEN a.pred = l.label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  CAST(sum(CASE WHEN a.pred = l.label THEN 1 ELSE 0 END) * 1000
        |    // count(*) AS BIGINT) AS accuracy_permille
        |FROM a JOIN lab l USING (id)
        |GROUP BY l.label ORDER BY l.label""".stripMargin),

    QuerySpec("q208_semdedup_clusters", (s, d) => {
      // SemDeDup as the paper partitions it: near-dup pairs (cosine >=
      // 0.42, the q28 seam) sought only WITHIN Lloyd clusters, components
      // collapse to their min id, survivors pass through — the cluster-
      // bounded alternative to q59's sign-LSH, missing only boundary-
      // straddling pairs (the paper's documented trade). k derives from
      // the corpus (⌈n/64⌉: 8 at sf0.01's 500 embeddings, 32 at sf0.1's
      // 2,000; the oracle derives the same k) and the realized pair
      // volume is probed against the budget before the join — no fixed-k
      // knob left undefined at 100×.
      Similarity.semDeDupWithinClusters(t(s, d, "embeddings"),
          "vec_id", "embedding", iters = 3, threshold = 0.42)
        .select(col("vec_id"))
        .orderBy("vec_id")
    },
      // q208: the q204 Lloyd CTEs, within-cluster cosine pairs (the q28
      // float seam at 0.42), the q46 recursive closure, anti-join losers.
      s"""WITH RECURSIVE $semDeDupKCte,
        |${lloydOracleCtes(k = "(SELECT k FROM semk)", iters = 3, seed = "km")},
        |af AS (
        |  SELECT id, cluster FROM (
        |    SELECT e.id, c.cluster,
        |      sum((e.q - c.c) * (e.q - c.c)) AS d2
        |    FROM ex e JOIN c3 c ON e.dim = c.dim
        |    GROUP BY e.id, c.cluster)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1),
        |$semDeDupTailSql""".stripMargin),

    QuerySpec("q205_cluster_coreset", (s, d) => {
      // Cluster-balanced curation on the q204 structure: the 20 most
      // central embeddings PER Lloyd cluster (bounded-heap top-k, never a
      // corpus-scale window sort) — every cluster contributes, none
      // dominates. The oracle replays the q204 recurrence plus a
      // per-cluster (d2, id) rank.
      Similarity.clusterCoreset(
          Similarity.kmeansLloydAssign(t(s, d, "embeddings"),
            "vec_id", "embedding", k = 8, iters = 3),
          m = 20)
        .orderBy("cluster", "rank")
    },
      // q205: the q204 recurrence + a per-cluster (d2, id) rank capped at m.
      s"""WITH ${lloydOracleCtes(k = "8", iters = 3, seed = "km")},
        |af AS (
        |  SELECT id, cluster, d2 FROM (
        |    SELECT e.id, c.cluster,
        |      CAST(sum((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS d2
        |    FROM ex e JOIN c3 c ON e.dim = c.dim
        |    GROUP BY e.id, c.cluster)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1)
        |SELECT CAST(cluster AS INTEGER) AS cluster,
        |  CAST(row_number() OVER (PARTITION BY cluster ORDER BY d2, id)
        |    AS INTEGER) AS rank,
        |  id
        |FROM af
        |QUALIFY rank <= 20
        |ORDER BY cluster, rank""".stripMargin),

    QuerySpec("q196_ann_recall", (s, d) => {
      // Recall@5 of the q187 projected-ANN serving path against the q27
      // exact brute-force truth, per query — the number an ANN rollout
      // decision actually reads; both paths are deterministic, so the
      // recall is an exact integer permille, not a sampled estimate.
      val emb = t(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 10)
      val approx = Similarity.projectedRerankTopK(qs, emb,
          "vec_id", "vec_id", "embedding", inDims = 64, projDims = 16,
          k = 5, expand = 4)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1))
      val exact = Similarity.bruteForceTopK(qs, emb,
          "vec_id", "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0))).as("hits"))
        .withColumn("recall_permille", expr("hits * 1000 DIV k"))
        .orderBy("query_id")
    },
      // q196: the q187 approximate path and the q27 exact path replayed
      // side by side; recall is the exact integer intersection share.
      raw"""WITH $sparseProjectionCtes,
        |proj AS (
        |  SELECT r.vec_id, nz.k, CAST(sum(nz.sign * r.q) AS BIGINT) AS p
        |  FROM r JOIN nz ON r.dim = nz.dim GROUP BY 1, 2),
        |pv AS (SELECT vec_id, list(p ORDER BY k) AS pv FROM proj GROUP BY vec_id),
        |qp AS (SELECT vec_id AS query_id, pv AS qpv FROM pv WHERE vec_id < 10),
        |coarse AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dd ASC, neighbor_id) AS crk
        |  FROM (
        |    SELECT qp.query_id, c.vec_id AS neighbor_id,
        |      CAST(list_sum(list_transform(qp.qpv,
        |        (x, i) -> (x - c.pv[i]) * (x - c.pv[i]))) AS BIGINT) // 256 AS dd
        |    FROM pv c CROSS JOIN qp WHERE c.vec_id <> qp.query_id)),
        |sel AS (SELECT query_id, neighbor_id FROM coarse WHERE crk <= 20),
        |eb AS (SELECT vec_id, embedding FROM embeddings),
        |approx AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT s.query_id, s.neighbor_id,
        |      row_number() OVER (PARTITION BY s.query_id
        |        ORDER BY list_cosine_similarity(eq.embedding, ec.embedding)
        |          DESC, s.neighbor_id) AS rk
        |    FROM sel s
        |    JOIN eb eq ON eq.vec_id = s.query_id
        |    JOIN eb ec ON ec.vec_id = s.neighbor_id)
        |  WHERE rk <= 5),
        |ed AS (SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |       FROM embeddings),
        |exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id)
        |        AS rk
        |    FROM ed q JOIN ed c ON q.vec_id <> c.vec_id
        |    WHERE q.vec_id < 10)
        |  WHERE rk <= 5)
        |SELECT e.query_id, CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hits,
        |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    * 1000 // count(*) AS BIGINT) AS recall_permille
        |FROM exact e
        |LEFT JOIN approx a
        |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin),

    QuerySpec("q187_projected_ann", (s, d) => {
      // ANN served THROUGH the q184 JL projection: coarse top-20 by
      // exact integer L2 in the 16-dim projected space (4× fewer bytes
      // per comparison), exact float-cosine re-rank of only those
      // candidates to top-5 — the dimensionality-reduction serving path
      // beside q166's int8 codes. Both stages deterministic (integer
      // coarse score, id tie-breaks), replayed stage for stage.
      val emb = t(s, d, "embeddings")
      Similarity.projectedRerankTopK(emb.where(col("vec_id") < 10), emb,
          "vec_id", "vec_id", "embedding", inDims = 64, projDims = 16,
          k = 5, expand = 4)
        .orderBy("query_id", "rank")
    },
      // q187: the q184 projection CTEs, per-vector lists ordered by k,
      // integer L2 with the same div-256 coarse seam and id tie-break,
      // then the q166 cosine re-rank rule.
      raw"""WITH $sparseProjectionCtes,
        |proj AS (
        |  SELECT r.vec_id, nz.k, CAST(sum(nz.sign * r.q) AS BIGINT) AS p
        |  FROM r JOIN nz ON r.dim = nz.dim GROUP BY 1, 2),
        |pv AS (SELECT vec_id, list(p ORDER BY k) AS pv FROM proj GROUP BY vec_id),
        |qs AS (SELECT vec_id AS query_id, pv AS qpv FROM pv WHERE vec_id < 10),
        |coarse AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dd ASC, neighbor_id) AS crk
        |  FROM (
        |    SELECT qs.query_id, c.vec_id AS neighbor_id,
        |      CAST(list_sum(list_transform(qs.qpv,
        |        (x, i) -> (x - c.pv[i]) * (x - c.pv[i]))) AS BIGINT) // 256 AS dd
        |    FROM pv c CROSS JOIN qs WHERE c.vec_id <> qs.query_id)),
        |sel AS (SELECT query_id, neighbor_id FROM coarse WHERE crk <= 20),
        |e AS (SELECT vec_id, embedding FROM embeddings),
        |rr AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    list_cosine_similarity(eq.embedding, ec.embedding) AS sim
        |  FROM sel s
        |  JOIN e eq ON eq.vec_id = s.query_id
        |  JOIN e ec ON ec.vec_id = s.neighbor_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS INT) AS rank,
        |  neighbor_id
        |FROM rr QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    QuerySpec("q165_embedding_hygiene", (s, d) => {
      // The ANN pre-flight: every vector gets a severity-ordered hygiene
      // verdict (null/wrong-dim/null-element/NaN/Inf/zero-norm/ok) from
      // pure map-side array arithmetic. Corruptions are planted
      // deterministically (NaN, zeroed, truncated, Inf families by id
      // mod) so every branch fires; the oracle replays the same planting
      // and the same first-match-wins CASE.
      val emb = t(s, d, "embeddings")
      val planted = emb.select(col("vec_id"),
        when(col("vec_id") % 97 === 0,
            transform(col("embedding"), (x, i) =>
              when(i === 0, lit(Float.NaN)).otherwise(x)))
          .when(col("vec_id") % 89 === 0,
            transform(col("embedding"), _ => lit(0f)))
          .when(col("vec_id") % 83 === 0, slice(col("embedding"), 1, 5))
          .when(col("vec_id") % 79 === 0,
            transform(col("embedding"), (x, i) =>
              when(i === 0, lit(Float.PositiveInfinity)).otherwise(x)))
          .otherwise(col("embedding")).as("embedding"))
      Similarity.embeddingHygieneFlags(planted, "vec_id", "embedding", 64)
        .groupBy("verdict").agg(count(lit(1)).as("n"))
        .orderBy("verdict")
    },
      // q165: the same planted corruption families (1-based lambda index
      // in DuckDB vs 0-based in Spark) and the same severity-ordered
      // first-match-wins CASE.
      """WITH p AS (
        |  SELECT vec_id, CASE
        |    WHEN vec_id % 97 = 0 THEN list_transform(embedding,
        |      (x, i) -> CASE WHEN i = 1 THEN CAST('NaN' AS FLOAT) ELSE x END)
        |    WHEN vec_id % 89 = 0 THEN list_transform(embedding, x -> CAST(0 AS FLOAT))
        |    WHEN vec_id % 83 = 0 THEN embedding[1:5]
        |    WHEN vec_id % 79 = 0 THEN list_transform(embedding,
        |      (x, i) -> CASE WHEN i = 1 THEN CAST('Infinity' AS FLOAT) ELSE x END)
        |    ELSE embedding END AS v
        |  FROM embeddings),
        |verdicts AS (
        |  SELECT vec_id, CASE
        |    WHEN v IS NULL THEN 'null_vector'
        |    WHEN len(v) <> 64 THEN 'wrong_dim'
        |    WHEN len(list_filter(v, x -> x IS NULL)) > 0 THEN 'null_element'
        |    WHEN len(list_filter(v, x -> isnan(x))) > 0 THEN 'nan'
        |    WHEN len(list_filter(v, x -> isinf(x))) > 0 THEN 'inf'
        |    WHEN len(list_filter(v, x -> x <> 0)) = 0 THEN 'zero_norm'
        |    ELSE 'ok' END AS verdict
        |  FROM p)
        |SELECT verdict, CAST(count(*) AS BIGINT) AS n
        |FROM verdicts GROUP BY 1 ORDER BY 1""".stripMargin),

    QuerySpec("q166_quantized_rerank", (s, d) => {
      // Memory-lean two-stage ANN serving: coarse top-20 by EXACT int8
      // dot product (the 4x-smaller codes do the bulk scoring), float
      // cosine re-rank of only those candidates to top-5. Both stages
      // tie-break by id, so the whole path is deterministic and the
      // oracle replays it stage for stage — quantization included.
      val emb = t(s, d, "embeddings")
      Similarity.quantizedRerankTopK(emb.where(col("vec_id") < 10), emb,
          "vec_id", "vec_id", "embedding", k = 5, expand = 4)
        .orderBy("query_id", "rank")
    },
      // q166: the q80 quantization CTEs, an exact BIGINT coarse dot with
      // (dot DESC, id) rank-20 cut, then float-cosine re-rank to top-5 —
      // stage-for-stage the Spark plan.
      quantizedRerankOracleSql),

    QuerySpec("q138_centroid_drift", (s, d) => {
      // Distribution-shift monitor: per-label centroid L1/L∞ drift
      // between the even-id and odd-id halves of the embedding corpus —
      // the check a pipeline runs between crawl snapshots. All-integer
      // micro arithmetic (quantize once, truncating div), so DuckDB
      // replays every distance exactly.
      val emb = t(s, d, "embeddings")
      Similarity.centroidDrift(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "label", "embedding")
        .orderBy("group")
    },
      // q138: the same quantize-once/truncating-div centroid chain via
      // DuckDB's indexed lambda (i is 1-based); integer sums CAST back to
      // BIGINT (HUGEINT→float64 driver hazard, the q64 lesson).
      """WITH e AS (
        |  SELECT label, vec_id % 2 AS t,
        |    unnest(list_transform(embedding, (x, i) ->
        |      {'dim': i - 1,
        |       'q': CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)})) AS u
        |  FROM embeddings),
        |p AS (
        |  SELECT label, u.dim AS dim,
        |    CAST(sum(CASE WHEN t = 0 THEN u.q END) AS BIGINT) AS sa,
        |    count(CASE WHEN t = 0 THEN 1 END) AS na,
        |    CAST(sum(CASE WHEN t = 1 THEN u.q END) AS BIGINT) AS sb,
        |    count(CASE WHEN t = 1 THEN 1 END) AS nb
        |  FROM e GROUP BY label, u.dim),
        |dd AS (
        |  SELECT label, na, nb, abs(sa // na - sb // nb) AS d FROM p)
        |SELECT label AS "group", max(na) AS n_a, max(nb) AS n_b,
        |  CAST(sum(d) AS BIGINT) AS l1_micro, max(d) AS linf_micro
        |FROM dd GROUP BY label ORDER BY "group"""".stripMargin),

    QuerySpec("q59_semantic_dedup", (s, d) => {
      // SemDeDup: embedding-space near-duplicates (cosine >= 0.42, the
      // threshold the q28/q29 oracles pin) collapse to their component's
      // min vec_id; survivors = representatives + singletons. Same pair
      // threshold as q29, so the oracle replays exact pairs + a recursive
      // CTE for the components.
      Similarity.semanticDupRepresentatives(
        t(s, d, "embeddings"), "vec_id", "embedding", 64, 0.42)
        .select("vec_id")
    },
      // Exact near-pair graph (the q28/q29-pinned threshold) → recursive-CTE
      // components → drop every non-min member; survivors are representatives
      // plus all singletons.
      // RECALL DEPENDENCY, stated plainly: the Spark side generates candidate
      // pairs by sign-LSH (seed-fixed, tables/planes solved for a ≥0.95
      // recall target), while this oracle computes EXACT all-pairs — the gate
      // passes at sf0.001/sf0.01 because the fixed seed finds every ≥0.42
      // pair there (verified by this hash equality each round). At another
      // scale or seed a missed LSH pair would split a component and fail the
      // hash gate; that is a recall shortfall surfacing, not an oracle bug.
      // If this gate is ever run at larger SFs, prefer a recall-margin check
      // (as q33 does) over exact hash equality.
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.42),
        |g AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM g
        |  UNION
        |  SELECT reach.id, g.v FROM reach JOIN g ON reach.r = g.u)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (
        |  SELECT id FROM reach GROUP BY id HAVING min(r) <> id)
        |ORDER BY vec_id""".stripMargin)
  )

  /** [[graft.pipeline.Similarity.kmeansLloydAssign]]'s exact recurrence
    * as DuckDB iteration CTEs over the embeddings: micro quantization,
    * md5-seeded init, integer-L2 argmin with (d2, cluster) ties,
    * truncating-div centroid updates with empty-cluster carry. `c$iters`
    * is the final centroid table the caller assigns against. */
  private def lloydOracleCtes(k: String, iters: Int, seed: String): String =
    s"$embeddingsExCte,\n${lloydIterOracleCtes(k, iters, seed)}"

  /** The final two-level assignment read: argmin against f{itersF} per
    * shard, global cluster id = shard·kf + fcl. */
  private def twoLevelFinalAssignSql(kf: Int, itersF: Int): String =
    s"""SELECT id, CAST(shard * $kf + fcl AS INTEGER) AS cluster, d2 FROM (
       |  SELECT e.id, sh.shard, c.fcl,
       |    CAST(sum((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS d2
       |  FROM ex e JOIN shards sh USING (id)
       |  JOIN f$itersF c ON c.shard = sh.shard AND c.dim = e.dim
       |  GROUP BY e.id, sh.shard, c.fcl)
       |QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, fcl) = 1"""
      .stripMargin

  /** The q204 Lloyd assignment replay — shared verbatim with q228, whose
    * stored-model serve path must equal the recompute. */
  private def lloydAssignOracleSql: String =
    s"""WITH ${lloydOracleCtes(k = "8", iters = 3, seed = "km")}
      |SELECT id, CAST(cluster AS INTEGER) AS cluster, d2 FROM (
      |  SELECT e.id, c.cluster,
      |    CAST(sum((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS d2
      |  FROM ex e JOIN c3 c ON e.dim = c.dim
      |  GROUP BY e.id, c.cluster)
      |QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1
      |ORDER BY id""".stripMargin

  /** Shared k-means centroid CTE chain (through `c10`) for the q33/q78
   * oracles — one arithmetic replay, two query tails. */
  /** `sampWhere` filters the FIT corpus (the id-ordered 4096 sample) —
    * e.g. "WHERE id % 2 = 0" replays a model fitted on the even-id
    * slice; emb stays the full table for assignment/probe CTEs. */
  private def kmeansOracleCtes(sampWhere: String = ""): String = {
    val iters = 10
    def step(n: Int): String = s"""
      |a$n AS MATERIALIZED (
      |  SELECT rn, v, cell FROM (
      |    SELECT s.rn, s.v, c.cell,
      |      row_number() OVER (PARTITION BY s.rn
      |        ORDER BY list_cosine_similarity(s.v, c.cv) DESC, c.cell) AS rk
      |    FROM samp s CROSS JOIN c$n c) WHERE rk = 1),
      |m$n AS MATERIALIZED (
      |  SELECT cell, i, avg(v[i]) AS mv
      |  FROM a$n, range(1, 4097) AS r(i), par
      |  WHERE i <= par.dim
      |  GROUP BY cell, i),
      |c${n + 1} AS MATERIALIZED (
      |  SELECT c.cell, coalesce(g.cv, c.cv) AS cv
      |  FROM c$n c LEFT JOIN (
      |    SELECT cell, list(mv ORDER BY i) AS cv FROM m$n GROUP BY cell) g
      |  USING (cell))""".stripMargin
    val steps = (0 until iters).map(step).mkString(",")
    s"""emb AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |samp AS MATERIALIZED (
      |  SELECT id, v, row_number() OVER (ORDER BY id) - 1 AS rn
      |  FROM (SELECT id, v FROM emb $sampWhere ORDER BY id LIMIT 4096)),
      |par AS (
      |  SELECT count(*) AS n, least(32, count(*)) AS k,
      |         greatest(1, count(*) // 32) AS stride,
      |         max(len(v)) AS dim
      |  FROM samp),
      |c0 AS MATERIALIZED (
      |  SELECT r.c AS cell, s.v AS cv
      |  FROM par, range(32) AS r(c)
      |  JOIN samp s ON s.rn = least(r.c * par.stride, par.n - 1)
      |  WHERE r.c < par.k),$steps""".stripMargin
  }

  /** q78 oracle: same centroid replay, single nearest-cell assignment. */
  private def clusterOracleSql: String =
    s"""WITH ${kmeansOracleCtes()}
      |SELECT id AS vec_id, CAST(cell AS INT) AS cluster FROM (
      |  SELECT e.id, c.cell,
      |    row_number() OVER (PARTITION BY e.id
      |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell) AS rk
      |  FROM emb e CROSS JOIN c10 c) WHERE rk = 1
      |ORDER BY vec_id""".stripMargin

  /** q244 oracle: the [[bm25OracleSql]] CTE chain re-used up to the
    * per-doc score, a dense squared-L2 ranking on the q97 hash-embed
    * grid (query vector = the same 4 search terms through the same md5
    * bucket/sign arithmetic), and the RRF fusion
    * Σ 10⁶ // (60 + rank) with rank 0 encoding list absence — every
    * stage integer, every tie rule (score desc / d2 asc / rrf desc,
    * then doc_id) replayed verbatim. */
  private def hybridRrfOracleSql: String = {
    s"""WITH $bm25ScoreCtes,
       |bmr AS (
       |  SELECT doc_id, bm25_rank FROM (
       |    SELECT doc_id, CAST(row_number() OVER (
       |      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS bm25_rank
       |    FROM sc) WHERE bm25_rank <= 10),
       |qb AS (
       |  SELECT ('0x' || substr(md5(v), 1, 8))::BIGINT % 32 AS bucket,
       |    CAST(sum(CASE WHEN ('0x' || substr(md5(v), 9, 1))::BIGINT % 2 = 0
       |             THEN 1 ELSE -1 END) AS BIGINT) AS qv
       |  FROM terms GROUP BY 1),
       |tb AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(v), 1, 8))::BIGINT % 32 AS bucket,
       |    CASE WHEN ('0x' || substr(md5(v), 9, 1))::BIGINT % 2 = 0
       |         THEN 1 ELSE -1 END AS sgn
       |  FROM allt),
       |sums AS (
       |  SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS dv
       |  FROM tb GROUP BY doc_id, bucket),
       |grid AS (
       |  SELECT d.doc_id, g.j,
       |    coalesce(s.dv, 0) AS dv, coalesce(q.qv, 0) AS qv
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(range(32)) AS j) g
       |  LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.bucket = g.j
       |  LEFT JOIN qb q ON q.bucket = g.j),
       |d2t AS (
       |  SELECT doc_id, CAST(sum((dv - qv) * (dv - qv)) AS BIGINT) AS d2
       |  FROM grid GROUP BY doc_id),
       |dnr AS (
       |  SELECT doc_id, dense_rank FROM (
       |    SELECT doc_id, CAST(row_number() OVER (
       |      ORDER BY d2, doc_id) AS INTEGER) AS dense_rank
       |    FROM d2t) WHERE dense_rank <= 10),
       |fused AS (
       |  SELECT coalesce(b.doc_id, n.doc_id) AS doc_id,
       |    coalesce(b.bm25_rank, 0) AS bm25_rank,
       |    coalesce(n.dense_rank, 0) AS dense_rank
       |  FROM bmr b FULL OUTER JOIN dnr n ON b.doc_id = n.doc_id),
       |rrf AS (
       |  SELECT doc_id, bm25_rank, dense_rank,
       |    CAST(CASE WHEN bm25_rank > 0 THEN 1000000 // (60 + bm25_rank)
       |              ELSE 0 END
       |       + CASE WHEN dense_rank > 0 THEN 1000000 // (60 + dense_rank)
       |              ELSE 0 END AS BIGINT) AS rrf_micro
       |  FROM fused)
       |SELECT rank, CAST(doc_id AS BIGINT) AS doc_id, bm25_rank,
       |  dense_rank, rrf_micro
       |FROM (
       |  SELECT CAST(row_number() OVER (
       |    ORDER BY rrf_micro DESC, doc_id) AS INTEGER) AS rank, *
       |  FROM rrf)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin
  }

  /** q155 oracle: the planted-graph nodes, md5-derived HLL registers
    * (index nibble + 61−bitlen rank — integer ops only), one
    * register-max CTE per hop pulling successors' counters, then
    * [[graft.pipeline.Graph.hllEstimateSql]] interpolated VERBATIM so
    * the estimator doubles cannot drift between engines. */
  /** q166/q200: the int8 quantize → coarse dot top-20 → cosine re-rank
    * replay, stage for stage. ONE string for both gates: q200 serves
    * from a STORED code table, and deterministic quantization means the
    * stored codes can never differ from the recompute this SQL does. */
  private def quantizedRerankOracleSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |m AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      |  FROM e),
      |qz AS (
      |  SELECT vec_id,
      |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
      |         ELSE list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INT)) END AS q
      |  FROM m),
      |qs AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < 10),
      |coarse AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY qdot DESC, neighbor_id) AS crk
      |  FROM (
      |    SELECT qs.query_id, c.vec_id AS neighbor_id,
      |      CAST(list_sum(list_transform(qs.qq,
      |        (x, i) -> CAST(x AS BIGINT) * c.q[i])) AS BIGINT) AS qdot
      |    FROM qz c CROSS JOIN qs WHERE c.vec_id <> qs.query_id)),
      |sel AS (SELECT query_id, neighbor_id FROM coarse WHERE crk <= 20),
      |rr AS (
      |  SELECT s.query_id, s.neighbor_id,
      |    list_cosine_similarity(eq.embedding, ec.embedding) AS sim
      |  FROM sel s
      |  JOIN e eq ON eq.vec_id = s.query_id
      |  JOIN e ec ON ec.vec_id = s.neighbor_id)
      |SELECT query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS INT) AS rank,
      |  neighbor_id
      |FROM rr QUALIFY rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** q232: the whole retrieval lifecycle replayed from shared fragments —
    * q53's chunk CTEs, q97's hash-embed CTEs (dim 16), the q204 Lloyd
    * iteration chain over the chunk embeddings via [[lloydIterOracleCtes]],
    * the q33-shaped nprobe=2 cell probe, and the q196 exact-hit read. All
    * integer, so every rank replays bit-for-bit. */
  private def retrievalLifecycleOracleSql: String =
    s"""WITH ${tokensCte()},
      |ch AS MATERIALIZED (
      |  SELECT doc_id * 1000000 + (start // 24) AS cid, doc_id,
      |    start // 24 AS chunk_idx,
      |    list_slice(toks, start + 1, start + 32) AS ctoks
      |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start
      |        FROM w)),
      |tb AS (
      |  SELECT cid,
      |    ('0x' || substr(md5(t.token), 1, 8))::BIGINT % 16 AS bucket,
      |    CASE WHEN ('0x' || substr(md5(t.token), 9, 1))::BIGINT % 2 = 0
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM ch, unnest(ctoks) AS t(token)),
      |ex AS MATERIALIZED (
      |  SELECT c.cid AS id, g.j AS dim,
      |    CAST(coalesce(s.v, 0) * 1000000 AS BIGINT) AS q
      |  FROM ch c
      |  CROSS JOIN (SELECT unnest(range(16)) AS j) g
      |  LEFT JOIN (SELECT cid, bucket, CAST(sum(sgn) AS BIGINT) AS v
      |             FROM tb GROUP BY cid, bucket) s
      |    ON s.cid = c.cid AND s.bucket = g.j),
      |${lloydIterOracleCtes(k = "8", iters = 2, seed = "rl")},
      |af AS MATERIALIZED (
      |  SELECT id, cluster FROM (
      |    SELECT e.id, c.cluster,
      |      sum((e.q - c.c) * (e.q - c.c)) AS d2
      |    FROM ex e JOIN c2 c ON e.dim = c.dim
      |    GROUP BY e.id, c.cluster)
      |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1),
      |qs AS (SELECT cid FROM ch WHERE doc_id < 5 AND chunk_idx = 0),
      |probes AS (
      |  SELECT id AS qid, cluster FROM (
      |    SELECT e.id, c.cluster,
      |      sum((e.q - c.c) * (e.q - c.c)) AS d2
      |    FROM ex e JOIN c2 c ON e.dim = c.dim
      |    WHERE e.id IN (SELECT cid FROM qs)
      |    GROUP BY e.id, c.cluster)
      |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) <= 2),
      |scored AS (
      |  SELECT p.qid, a.id AS cid,
      |    sum((eq.q - ec.q) * (eq.q - ec.q)) AS d2
      |  FROM probes p
      |  JOIN af a USING (cluster)
      |  JOIN ex eq ON eq.id = p.qid
      |  JOIN ex ec ON ec.id = a.id AND ec.dim = eq.dim
      |  WHERE a.id <> p.qid
      |  GROUP BY p.qid, a.id),
      |serve AS (
      |  SELECT qid, cid, row_number() OVER (
      |      PARTITION BY qid ORDER BY d2, cid) AS rank
      |  FROM scored QUALIFY rank <= 3),
      |bf AS (
      |  SELECT q.cid AS qid, ec.id AS cid,
      |    sum((eq.q - ec.q) * (eq.q - ec.q)) AS d2
      |  FROM qs q
      |  JOIN ex eq ON eq.id = q.cid
      |  JOIN ex ec ON ec.dim = eq.dim AND ec.id <> q.cid
      |  GROUP BY q.cid, ec.id),
      |exact3 AS (
      |  SELECT qid, cid FROM bf
      |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY d2, cid) <= 3)
      |SELECT s.qid AS query_id, CAST(s.rank AS INT) AS rank,
      |  s.cid AS neighbor_id,
      |  CAST(CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_hit
      |FROM serve s LEFT JOIN exact3 e ON e.qid = s.qid AND e.cid = s.cid
      |ORDER BY query_id, rank""".stripMargin

  /** q252: [[ivfOracleSql]]'s replay with the FIT pinned to the even-id
    * base corpus (the stored generation's training slice) and the
    * postings to the post-lifecycle survivors — even ids not divisible
    * by 4 (compaction) plus the odd-id ingest batch, i.e. id % 4 <> 0.
    * Probes stay the full-corpus id < 10 queries. */
  private def ivfDeleteRefreshOracleSql: String = {
    s"""WITH ${kmeansOracleCtes("WHERE id % 2 = 0")},
      |assigned AS MATERIALIZED (
      |  SELECT id AS c_id, v AS c_v, cell FROM (
      |    SELECT e.id, e.v, c.cell,
      |      row_number() OVER (PARTITION BY e.id
      |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell) AS rk
      |    FROM emb e CROSS JOIN c10 c WHERE e.id % 4 <> 0) WHERE rk <= 3),
      |$ivfProbeTopSql""".stripMargin
  }

  /** q256: the q252 replay with the centroid REFRESH between compaction
    * and ingest — even postings assign via the build centroids (their
    * cells are stored history), survivors' integer-micro means become
    * the refreshed routing table `rc` (empty cells carry), and the odd
    * ingest AND the probe route through `rc`. */
  private def ivfCompactRefreshOracleSql: String = {
    s"""WITH ${kmeansOracleCtes("WHERE id % 2 = 0")},
      |ev AS MATERIALIZED (
      |  SELECT id AS c_id, v AS c_v, cell FROM (
      |    SELECT e.id, e.v, c.cell,
      |      row_number() OVER (PARTITION BY e.id
      |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell) AS rk
      |    FROM emb e CROSS JOIN c10 c WHERE e.id % 2 = 0) WHERE rk <= 3),
      |sv AS MATERIALIZED (SELECT * FROM ev WHERE c_id % 4 <> 0),
      |rstat AS (
      |  SELECT cell, p.i - 1 AS dim,
      |    CAST(sum(CAST(round(CAST(p.x AS DOUBLE) * 1e6) AS BIGINT))
      |      // count(*) AS BIGINT) AS cm
      |  FROM sv, unnest(list_transform(c_v, (x, i) -> {'x': x, 'i': i})) AS t(p)
      |  GROUP BY 1, 2),
      |rc AS MATERIALIZED (
      |  SELECT c.cell, coalesce(r.cv, c.cv) AS cv
      |  FROM c10 c LEFT JOIN (
      |    SELECT cell, list(CAST(cm AS DOUBLE) / 1e6 ORDER BY dim) AS cv
      |    FROM rstat GROUP BY cell) r USING (cell)),
      |od AS MATERIALIZED (
      |  SELECT id AS c_id, v AS c_v, cell FROM (
      |    SELECT e.id, e.v, c.cell,
      |      row_number() OVER (PARTITION BY e.id
      |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell) AS rk
      |    FROM emb e CROSS JOIN rc c WHERE e.id % 2 = 1) WHERE rk <= 3),
      |assigned AS (SELECT * FROM sv UNION ALL SELECT * FROM od),
      |probes AS MATERIALIZED (
      |  SELECT id AS query_id, v AS q_v, cell FROM (
      |    SELECT e.id, e.v, c.cell,
      |      row_number() OVER (PARTITION BY e.id
      |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell) AS rk
      |    FROM emb e CROSS JOIN rc c WHERE e.id < 10) WHERE rk <= 12),
      |scored AS (
      |  SELECT p.query_id, a.c_id,
      |    max(list_cosine_similarity(p.q_v, a.c_v)) AS sim
      |  FROM assigned a JOIN probes p USING (cell)
      |  WHERE p.query_id <> a.c_id
      |  GROUP BY p.query_id, a.c_id)
      |SELECT query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, c_id) AS INT) AS rank,
      |  c_id AS neighbor_id
      |FROM scored
      |QUALIFY rank <= 5
      |ORDER BY query_id, rank""".stripMargin
  }

  private def ivfOracleSql: String = {
    s"""WITH ${kmeansOracleCtes()},
      |assigned AS MATERIALIZED (
      |  SELECT id AS c_id, v AS c_v, cell FROM (
      |    SELECT e.id, e.v, c.cell,
      |      row_number() OVER (PARTITION BY e.id
      |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell) AS rk
      |    FROM emb e CROSS JOIN c10 c) WHERE rk <= 3),
      |$ivfProbeTopSql""".stripMargin
  }

  /** [[graft.pipeline.Similarity]]'s sparse random projection in SQL: the
    * md5-drawn {-1, 0, +1} sign of each (dim, k) cell, its nonzero cells
    * `nz`, and the micro-quantized embeddings `r(vec_id, dim, q)`.
    * Margin-prefixed (see [[Support]]). */
  private val sparseProjectionCtes: String =
    raw"""cells AS (
      |  SELECT i // 16 AS dim, i % 16 AS k,
      |    CASE ('0x' || substr(md5('rp|' || CAST(i // 16 AS VARCHAR)
      |        || '|' || CAST(i % 16 AS VARCHAR)), 25, 8))::BIGINT % 6
      |      WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS sign
      |  FROM (SELECT unnest(range(0, 1024)) AS i)),
      |nz AS (SELECT dim, k, sign FROM cells WHERE sign <> 0),
      |r AS (
      |  SELECT vec_id, p.i - 1 AS dim,
      |    CAST(round(CAST(p.x AS DOUBLE) * 1e6) AS BIGINT) AS q
      |  FROM embeddings,
      |    unnest(list_transform(embedding, (x, i) -> {'x': x, 'i': i})) AS t(p))"""

  /** The cluster counts q208 and q238 train at, as the DuckDB CTE
    * `semk(k, kc, kf)`: [[graft.pipeline.Similarity.semDeDupParams]]'
    * auto-k, ⌈n/64⌉ (at least one) for the n embeddings, and its
    * two-level split as `Similarity.clusterAssignForDedup` makes it,
    * kc = ⌈√k⌉ coarse shards of kf = ⌈k/kc⌉ fine clusters.
    * Margin-prefixed (see [[Support]]). */
  private val semDeDupKCte: String =
    """semk AS (
      |  SELECT k, kc, (k + kc - 1) // kc AS kf FROM (
      |    SELECT k, CAST(ceil(sqrt(k)) AS BIGINT) AS kc FROM (
      |      SELECT greatest(1, (count(*) + 63) // 64) AS k FROM embeddings)))"""

  /** q208/q238's SemDeDup tail over a cluster assignment `af(id,
    * cluster)`: within-cluster cosine pairs at the q28 seam (0.42), the
    * q46 recursive closure, and the embeddings minus each component's
    * non-minimum ids. Margin-prefixed (see [[Support]]). */
  private val semDeDupTailSql: String =
    """emb2 AS (
      |  SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |p AS (
      |  SELECT fa.id AS id_a, fb.id AS id_b
      |  FROM af fa JOIN af fb ON fa.cluster = fb.cluster AND fa.id < fb.id
      |  JOIN emb2 a ON a.id = fa.id
      |  JOIN emb2 b ON b.id = fb.id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.42),
      |edges AS (SELECT id_a AS u, id_b AS v FROM p
      |          UNION SELECT id_b, id_a FROM p),
      |reach(id, r) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT reach.id, edges.v FROM reach JOIN edges ON reach.r = edges.u),
      |losers AS (
      |  SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
      |  WHERE comp <> id)
      |SELECT vec_id FROM embeddings
      |ANTI JOIN losers ON vec_id = losers.id
      |ORDER BY vec_id"""

  /** The IVF probe tail of q252/q256 over `emb`, the routing table `c10`
    * and the posting table `assigned(c_id, c_v, cell)`: the first ten ids
    * probe their 12 nearest cells, and each keeps its top-5 neighbors by
    * (cosine DESC, id). Margin-prefixed (see [[Support]]). */
  private val ivfProbeTopSql: String =
    """probes AS MATERIALIZED (
      |  SELECT id AS query_id, v AS q_v, cell FROM (
      |    SELECT e.id, e.v, c.cell,
      |      row_number() OVER (PARTITION BY e.id
      |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell) AS rk
      |    FROM emb e CROSS JOIN c10 c WHERE e.id < 10) WHERE rk <= 12),
      |scored AS (
      |  SELECT p.query_id, a.c_id,
      |    max(list_cosine_similarity(p.q_v, a.c_v)) AS sim
      |  FROM assigned a JOIN probes p USING (cell)
      |  WHERE p.query_id <> a.c_id
      |  GROUP BY p.query_id, a.c_id)
      |SELECT query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, c_id) AS INT) AS rank,
      |  c_id AS neighbor_id
      |FROM scored
      |QUALIFY rank <= 5
      |ORDER BY query_id, rank"""
}
