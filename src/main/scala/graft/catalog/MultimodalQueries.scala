package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{AudioCodec, Dedup, ImageCodec, Multimodal, VideoCodec}
import Support._

/** Image, audio and video operators ([[graft.pipeline.Multimodal]]) over
  * planted binary fixtures. */
private[catalog] object MultimodalQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q86_image_phash_dedup", (s, d) => {
      // Image near-dup keying: average-hash (aHash) over decoded pixels —
      // integer luma, 8x8 floor-bounds block average, >=mean bits — then
      // exact dedup groups on the 64-bit key (emitted as hex; rep_id = min
      // doc_id per hash). Fixtures are two-tone PNGs whose hash the oracle
      // derives from (doc_id) alone, so the gate fails unless decode,
      // downsample, mean and bit packing all replay exactly.
      val docs = fixtureTable(s, d, "png_2tone", fixtureTwoTonePng(_))
      val hashed = Multimodal.withBatchedStruct(docs, "payload", "ph",
        StructType(Seq(StructField("ahash", StringType))), 64,
        ImageCodec.aHashKernel)
        .select(col("doc_id"), col("ph.ahash").as("ahash"))
      hashed
        .withColumn("rep_id", min("doc_id").over(Window.partitionBy("ahash")))
        .orderBy("doc_id")
    },
      // q86: pure-integer replay of the aHash pipeline from the fixture
      // formulas. Columns are vertically uniform, so per-block averages
      // reduce to per-column-block arithmetic (floor(k*a/(k*b)) = floor(a/b))
      // and the 8 row-block bytes of the hash all equal the column mask.
      """WITH p AS (
        |  SELECT doc_id,
        |    8 + doc_id % 5 AS w,
        |    1 + doc_id % 7 AS s,
        |    ((doc_id % 10) * 13 + 7) % 256 AS ga,
        |    ((doc_id % 10) * 29 + 3) % 256 AS gb
        |  FROM documents
        |), blocks AS (
        |  SELECT doc_id, j, (j * w) // 8 AS x0, ((j + 1) * w) // 8 AS x1,
        |         s, ga, gb
        |  FROM p, (SELECT unnest(range(8)) AS j)
        |), avgs AS (
        |  SELECT doc_id, j,
        |    (greatest(0, least(x1, s) - x0) * ga +
        |     (x1 - x0 - greatest(0, least(x1, s) - x0)) * gb) // (x1 - x0)
        |      AS a
        |  FROM blocks
        |), m AS (
        |  SELECT doc_id, sum(a) // 8 AS mean FROM avgs GROUP BY doc_id
        |), masks AS (
        |  SELECT avgs.doc_id,
        |    sum(CASE WHEN avgs.a >= m.mean THEN 1 << avgs.j ELSE 0 END)
        |      AS colmask
        |  FROM avgs JOIN m ON avgs.doc_id = m.doc_id
        |  GROUP BY avgs.doc_id
        |), hashes AS (
        |  SELECT doc_id,
        |    repeat(printf('%02x', CAST(colmask AS BIGINT)), 8) AS ahash
        |  FROM masks
        |)
        |SELECT doc_id, ahash,
        |  min(doc_id) OVER (PARTITION BY ahash) AS rep_id
        |FROM hashes ORDER BY doc_id""".stripMargin),

    QuerySpec("q88_image_near_dup", (s, d) => {
      // Image NEAR-duplicate pairs: aHash the gradient fixtures, then the
      // banded hex-hash LSH join (4x16-bit bands, first-agreeing-band
      // emission, radius 3 = the pigeonhole-complete bound). The oracle
      // recomputes every 64-bit hash from the fixture formulas and replays
      // the band-collision + Hamming logic over all pairs quadratically.
      val docs = fixtureTable(s, d, "png_grad", fixtureGradPng(_))
      val hashed = Multimodal.withBatchedStruct(docs, "payload", "ph",
        StructType(Seq(StructField("ahash", StringType))), 64,
        ImageCodec.aHashKernel)
        .select(col("doc_id"), col("ph.ahash").as("ahash"))
      Dedup.hexHashNearDupPairs(hashed, "doc_id", "ahash", maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
      // q88: full replay — single-pixel blocks at 8x8, per-pixel hash-noise
      // gray with the odd-parity one-pixel perturbation, packed into the
      // same %08x%08x hex, then band collision + Hamming over all pairs
      // quadratically (the shape the banded join avoids).
      raw"""WITH $gradPngHashCtes
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
        |FROM hx a JOIN hx b ON a.doc_id < b.doc_id
        |WHERE (substring(a.ahash, 1, 4) = substring(b.ahash, 1, 4)
        |    OR substring(a.ahash, 5, 4) = substring(b.ahash, 5, 4)
        |    OR substring(a.ahash, 9, 4) = substring(b.ahash, 9, 4)
        |    OR substring(a.ahash, 13, 4) = substring(b.ahash, 13, 4))
        |  AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("q93_audio_near_dup", (s, d) => {
      // Audio NEAR-duplicate pairs: energy-delta fingerprints over real
      // WAV decodes, then the SAME banded hex-hash LSH join as images —
      // one near-dup engine, three modalities. Odd ids replace one frame
      // of their even sibling's signal, planting radius-0..2 pairs; the
      // oracle recomputes every fingerprint from the sample formulas.
      val docs = fixtureTable(s, d, "wav_fp", fixtureFpWav(_))
      val printed = Multimodal.withBatchedStruct(docs, "payload", "fp",
        StructType(Seq(StructField("fhash", StringType))), 64,
        AudioCodec.fingerprintKernel)
        .select(col("doc_id"), col("fp.fhash").as("fhash"))
      Dedup.hexHashNearDupPairs(printed, "doc_id", "fhash", maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
      // q93: fingerprint replay from the sample formulas — striped frame
      // assignment, abs-energy sums, delta bits, %08x%08x packing — then
      // band collision + Hamming over all pairs quadratically.
      """WITH p AS (
        |  SELECT doc_id, (doc_id // 2) % 600 AS base, doc_id % 2 AS parity
        |  FROM documents
        |), q AS (
        |  SELECT doc_id, parity, base,
        |    100 + base % 40 AS n, base % 64 AS pf
        |  FROM p
        |), sm0 AS (
        |  SELECT doc_id, parity, base, n, pf, unnest(range(n)) AS i FROM q
        |), sm AS (
        |  SELECT doc_id, (i * 65) // n AS k,
        |    CASE WHEN parity = 1 AND (i * 65) // n = pf THEN 32000
        |         ELSE (((base * 200 + i) * (base * 200 + i) * 40503)
        |               % 4294967296) // 256 % 65536 - 32768 END AS v
        |  FROM sm0
        |), e AS (
        |  SELECT doc_id, k, sum(abs(v)) AS en FROM sm GROUP BY doc_id, k
        |), bits AS (
        |  SELECT cur.doc_id, cur.k AS k,
        |    CASE WHEN nxt.en >= cur.en THEN 1 ELSE 0 END AS b
        |  FROM e cur JOIN e nxt
        |    ON nxt.doc_id = cur.doc_id AND nxt.k = cur.k + 1
        |  WHERE cur.k < 64
        |), hs AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN k >= 32 THEN b * (1 << (k - 32)) ELSE 0 END)
        |      AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN k < 32 THEN b * (1 << k) ELSE 0 END)
        |      AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id
        |), hx AS (
        |  SELECT doc_id, printf('%08x%08x', hi, lo) AS fhash, hi, lo FROM hs
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
        |FROM hx a JOIN hx b ON a.doc_id < b.doc_id
        |WHERE (substring(a.fhash, 1, 4) = substring(b.fhash, 1, 4)
        |    OR substring(a.fhash, 5, 4) = substring(b.fhash, 5, 4)
        |    OR substring(a.fhash, 9, 4) = substring(b.fhash, 9, 4)
        |    OR substring(a.fhash, 13, 4) = substring(b.fhash, 13, 4))
        |  AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("q100_image_dedup_e2e", (s, d) => {
      // The whole IMAGE dedup pipeline end to end: real PNG decode ->
      // aHash perceptual keys -> banded near-dup pairs (radius 3) ->
      // connected components -> a canonical representative per image
      // (min id of its duplicate cluster; itself when unpaired). Every
      // stage is an audited operator; the oracle replays hash formulas,
      // band/Hamming pair logic, and a recursive-CTE transitive closure.
      val docs = fixtureTable(s, d, "png_grad", fixtureGradPng(_))
      val hashed = Multimodal.withBatchedStruct(docs, "payload", "ph",
        StructType(Seq(StructField("ahash", StringType))), 64,
        ImageCodec.aHashKernel)
        .select(col("doc_id"), col("ph.ahash").as("ahash"))
      val pairs = Dedup.hexHashNearDupPairs(hashed, "doc_id", "ahash", 3)
        .select("id_a", "id_b")
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      hashed.select(col("doc_id"))
        .join(comps, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("rep_id"))
        .orderBy("doc_id")
    },
      // q100: q88's hash + pair replay, then the q46-style recursive-CTE
      // transitive closure and a min-id representative per image.
      raw"""WITH RECURSIVE $gradPngHashCtes
        |), pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM hx a JOIN hx b ON a.doc_id < b.doc_id
        |  WHERE (substring(a.ahash, 1, 4) = substring(b.ahash, 1, 4)
        |      OR substring(a.ahash, 5, 4) = substring(b.ahash, 5, 4)
        |      OR substring(a.ahash, 9, 4) = substring(b.ahash, 9, 4)
        |      OR substring(a.ahash, 13, 4) = substring(b.ahash, 13, 4))
        |    AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
        |), e AS (
        |  SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr
        |), reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u
        |), comp AS (
        |  SELECT id, min(r) AS component FROM reach GROUP BY id
        |)
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep_id
        |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    QuerySpec("q30_multimodal_features", (s, d) => {
      // REAL image decode (round 8): each row plants a deterministic
      // solid-color PNG fixture (dims and color are pure functions of
      // doc_id), the batched kernel decodes it with javax.imageio, and the
      // DuckDB oracle predicts the decoded dimensions and mean color from
      // doc_id alone — so the gate passes only if the PNG encode∘decode
      // roundtrip is faithful. Fixtures come from a one-time materialized
      // parquet table (see fixtureTable) so the timed plan is scan+decode.
      val docs = fixtureTable(s, d, "png", fixturePng(_))
      Multimodal.withBatchedFeatures(docs, "payload", 64, ImageCodec.decodeKernel)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("int").as("width"),
          element_at(col("features"), 2).cast("int").as("height"),
          element_at(col("features"), 3).cast("int").as("mean_r"),
          element_at(col("features"), 4).cast("int").as("mean_g"),
          element_at(col("features"), 5).cast("int").as("mean_b"))
        .orderBy("doc_id")
    },
      // q30's planted-fixture prediction (round 8): the Spark side ENCODES a
      // solid-color PNG per row and DECODES it with javax.imageio; dims and
      // mean color are pure functions of doc_id, so the oracle predicts the
      // decoded values without touching image bytes — equality holds only if
      // the real encode∘decode roundtrip is faithful.
      """SELECT doc_id,
        |  CAST(1 + doc_id % 8 AS INTEGER) AS width,
        |  CAST(1 + doc_id % 5 AS INTEGER) AS height,
        |  CAST(doc_id % 256 AS INTEGER) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS INTEGER) AS mean_g,
        |  CAST((doc_id * 13) % 256 AS INTEGER) AS mean_b
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("q65_image_resize", (s, d) => {
      // REAL image resize (round 8): q30's planted fixtures go through the
      // javax.imageio resize kernel (longest side -> 4, integer-arithmetic
      // target dims, aspect preserved; already-small payloads byte-identical
      // passthrough), then through the real decode kernel — the oracle
      // predicts post-resize dimensions with the same integer arithmetic
      // and the solid-fixture colors unchanged, so the gate passes only if
      // resize∘decode is faithful end to end. Fixtures from the shared
      // materialized q30 table — the timed plan is scan+resize+decode.
      val docs = fixtureTable(s, d, "png", fixturePng(_))
      val resized = Multimodal
        .withBatchedBinary(docs, "payload", "resized", 64, ImageCodec.resizeKernel(4))
        .select(col("doc_id"), col("resized").as("payload"))
      Multimodal.withBatchedFeatures(resized, "payload", 64, ImageCodec.decodeKernel)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("int").as("width"),
          element_at(col("features"), 2).cast("int").as("height"),
          element_at(col("features"), 3).cast("int").as("mean_r"),
          element_at(col("features"), 4).cast("int").as("mean_g"),
          element_at(col("features"), 5).cast("int").as("mean_b"))
        .orderBy("doc_id")
    },
      // Resize arithmetic mirrored exactly: integer target dims
      // greatest(1, side*4 // longest) when the longest side exceeds 4, else
      // unchanged; solid-color fixtures keep their exact mean color through
      // PNG re-encode (lossless) regardless of scaling.
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 8 AS BIGINT) AS w,
        |    CAST(1 + doc_id % 5 AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN greatest(w, h) <= 4 THEN w
        |       ELSE greatest(1, w * 4 // greatest(w, h)) END AS INTEGER) AS width,
        |  CAST(CASE WHEN greatest(w, h) <= 4 THEN h
        |       ELSE greatest(1, h * 4 // greatest(w, h)) END AS INTEGER) AS height,
        |  CAST(doc_id % 256 AS INTEGER) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS INTEGER) AS mean_g,
        |  CAST((doc_id * 13) % 256 AS INTEGER) AS mean_b
        |FROM f ORDER BY doc_id""".stripMargin),

    QuerySpec("q67_audio_features", (s, d) => {
      // REAL audio decode (round 8): planted WAV PCM16 fixtures whose
      // sample values are integer functions of the row id go through the
      // byte-layout RIFF parser and the integer feature kernel (energy,
      // peak, zero crossings, integer-division duration). The oracle
      // regenerates the samples from doc_id alone and recomputes every
      // feature in exact integer arithmetic — a one-sample decode error
      // fails the hash gate. Fixtures from a one-time materialized parquet
      // table (fixtureTable) so the timed plan is scan+decode.
      val docs = fixtureTable(s, d, "wav", fixtureWav(_))
      Multimodal.withBatchedStruct(
          docs, "payload", "af", AudioCodec.FeatureSchema, 64,
          AudioCodec.featureKernel)
        .select(col("doc_id"), col("af.sample_rate"), col("af.n_samples"),
          col("af.duration_ms"), col("af.sum_sq"), col("af.peak"),
          col("af.zero_crossings"))
    },
      // q67: regenerate the planted WAV samples from doc_id (same integer
      // formulas as `fixtureWav`) and recompute every feature exactly —
      // duration via integer division, energy/peak/crossings as integers, so
      // the comparison has no float-rounding escape hatch.
      """WITH d AS (
        |  SELECT doc_id,
        |         8000 + (doc_id % 4) * 4000 AS sample_rate,
        |         100 + (doc_id % 50) AS n
        |  FROM documents),
        |s AS (
        |  SELECT d.doc_id, u.i,
        |         ((d.doc_id * 31 + u.i * 17) % 65536) - 32768 AS v
        |  FROM d, UNNEST(range(d.n)) AS u(i)),
        |w AS (
        |  SELECT doc_id, i, v,
        |         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM s),
        |a AS (
        |  SELECT doc_id,
        |         CAST(count(*) AS BIGINT) AS n_samples,
        |         CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |         CAST(max(abs(v)) AS BIGINT) AS peak,
        |         CAST(sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS zero_crossings
        |  FROM w GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.sample_rate AS BIGINT) AS sample_rate,
        |       a.n_samples,
        |       CAST(a.n_samples * 1000 // d.sample_rate AS BIGINT) AS duration_ms,
        |       a.sum_sq, a.peak, a.zero_crossings
        |FROM d JOIN a USING (doc_id)""".stripMargin),

    QuerySpec("q68_video_frames", (s, d) => {
      // REAL container demux + REAL per-frame decode (round 8): planted
      // GFV1 containers (length-prefixed PNG frames, dims/colors integer
      // functions of doc_id and frame index) are demuxed by the byte-layout
      // parser, every 2nd frame kept, then each kept frame goes through the
      // javax.imageio decode kernel. The oracle replays the fixture
      // formulas for exactly the kept frame indices — a mis-sliced frame
      // boundary or off-by-one stride fails the hash gate. Fixtures from a
      // one-time materialized parquet table (fixtureTable) so the timed
      // plan is scan+demux+decode.
      val docs = fixtureTable(s, d, "gfv", fixtureGfv(_))
      val sampled = Multimodal.withBatchedFrames(
          docs, "payload", "frames", 64, VideoCodec.frameSampleKernel(2))
        // posexplode_outer + null-filter: the non-outer generate trips
        // InferFiltersFromGenerate into re-running the generator input
        .select(col("doc_id"), posexplode_outer(col("frames")).as(Seq("pos", "frame")))
        .filter(col("frame").isNotNull)
      Multimodal.withBatchedFeatures(sampled, "frame", 64, ImageCodec.decodeKernel)
        .select(col("doc_id"),
          (col("pos") * 2).cast("long").as("frame_k"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).cast("long").as("mean_r"),
          element_at(col("features"), 4).cast("long").as("mean_g"),
          element_at(col("features"), 5).cast("long").as("mean_b"))
    },
      // q68: replay the planted GFV1 fixture formulas (same integer
      // arithmetic as `fixtureGfv`) for exactly the stride-2 kept frames —
      // the comparison is exact integers end to end.
      """WITH d AS (
        |  SELECT doc_id, 1 + (doc_id % 4) AS n FROM documents),
        |f AS (
        |  SELECT d.doc_id, u.k
        |  FROM d, UNNEST(range(d.n)) AS u(k)
        |  WHERE u.k % 2 = 0)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS frame_k,
        |       CAST(1 + ((doc_id + k) % 6) AS BIGINT) AS width,
        |       CAST(1 + ((doc_id + k) % 3) AS BIGINT) AS height,
        |       CAST((doc_id * 5 + k * 11) % 256 AS BIGINT) AS mean_r,
        |       CAST((doc_id * 3 + k * 7) % 256 AS BIGINT) AS mean_g,
        |       CAST((doc_id + k * 13) % 256 AS BIGINT) AS mean_b
        |FROM f""".stripMargin),

    QuerySpec("q69_avi_frames", (s, d) => {
      // REAL-WORLD container demux (round 9): planted MJPEG-in-AVI files —
      // the RIFF layout every player reads — are demuxed by the honest AVI
      // walk (VideoCodec.decodeAviMjpeg), every 2nd frame kept, each kept
      // frame decoded by javax.imageio's real JPEG decoder. Frames are
      // solid GRAY at JPEG quality 1.0, the subspace that roundtrips
      // exactly (see ImageCodec.encodeJpegGray), so the oracle can replay
      // the fixture formulas to the last pixel-mean bit. Same batched
      // plumbing and explode shape as q68.
      val docs = fixtureTable(s, d, "avi", fixtureAvi(_))
      val sampled = Multimodal.withBatchedFrames(
          docs, "payload", "frames", 64, VideoCodec.aviFrameSampleKernel(2))
        .select(col("doc_id"), posexplode_outer(col("frames")).as(Seq("pos", "frame")))
        .filter(col("frame").isNotNull)
      Multimodal.withBatchedFeatures(sampled, "frame", 64, ImageCodec.decodeKernel)
        .select(col("doc_id"),
          (col("pos") * 2).cast("long").as("frame_k"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).cast("long").as("mean_r"),
          element_at(col("features"), 4).cast("long").as("mean_g"),
          element_at(col("features"), 5).cast("long").as("mean_b"))
    },
      // q69: replay the AVI fixture formulas for the kept (even) frame
      // indices — gray survives JPEG q=1.0 exactly, so mean_r=g=b=gray.
      """WITH d AS (
        |  SELECT doc_id,
        |         1 + (doc_id % 4) AS n,
        |         1 + (doc_id % 6) AS w,
        |         1 + (doc_id % 3) AS h
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, w, h, u.k
        |  FROM d, UNNEST(range(d.n)) AS u(k)
        |  WHERE u.k % 2 = 0)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS frame_k,
        |       CAST(w AS BIGINT) AS width,
        |       CAST(h AS BIGINT) AS height,
        |       CAST((doc_id * 7 + k * 29) % 256 AS BIGINT) AS mean_r,
        |       CAST((doc_id * 7 + k * 29) % 256 AS BIGINT) AS mean_g,
        |       CAST((doc_id * 7 + k * 29) % 256 AS BIGINT) AS mean_b
        |FROM f""".stripMargin)
  )

  /** q88/q100: [[Support.fixtureGradPng]]'s planted pixels and their
    * aHash replayed in SQL — the 8x8 gray grid `px`, its mean `m`, the
    * threshold bits and the hi/lo words `hs`, and the hex hash `hx`.
    * Margin-prefixed (see [[Support]]). */
  private val gradPngHashCtes: String =
    """p AS (
      |  SELECT doc_id, (doc_id // 2) % 600 AS base, doc_id % 2 AS parity
      |  FROM documents
      |), q AS (
      |  SELECT doc_id, parity, base,
      |    base % 8 AS px, (base // 8) % 8 AS py
      |  FROM p
      |), px AS (
      |  SELECT doc_id, i, j,
      |    CASE WHEN parity = 1 AND j = q.px AND i = q.py
      |         THEN (((base * 64 + i * 8 + j) * (base * 64 + i * 8 + j)
      |                * 2654435761) % 4294967296 // 16777216 + 128) % 256
      |         ELSE ((base * 64 + i * 8 + j) * (base * 64 + i * 8 + j)
      |               * 2654435761) % 4294967296 // 16777216 END AS g
      |  FROM q, (SELECT unnest(range(8)) AS i), (SELECT unnest(range(8)) AS j)
      |), m AS (
      |  SELECT doc_id, sum(g) // 64 AS mean FROM px GROUP BY doc_id
      |), bits AS (
      |  SELECT px.doc_id, i, j,
      |    CASE WHEN px.g >= m.mean THEN 1 ELSE 0 END AS b
      |  FROM px JOIN m ON px.doc_id = m.doc_id
      |), hs AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN i * 8 + j >= 32
      |                  THEN b * (1 << (i * 8 + j - 32)) ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN i * 8 + j < 32
      |                  THEN b * (1 << (i * 8 + j)) ELSE 0 END) AS BIGINT) AS lo
      |  FROM bits GROUP BY doc_id
      |), hx AS (
      |  SELECT doc_id, printf('%08x%08x', hi, lo) AS ahash, hi, lo FROM hs"""
}
