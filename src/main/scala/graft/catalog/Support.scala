package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{AudioCodec, Classify, Dedup, ImageCodec, Search, Similarity, TextAnalysis, VideoCodec}

/** Helpers the query specs share: table readers, decimal casts, scan spreading, the XML
  * and stream plumbing, the build-once fixtures, and the oracle SQL fragments that state
  * one DuckDB replay rule for several queries. */
private[catalog] object Support {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive scan spreading for CPU-heavy map pipelines (guide
    * §2.5 input skew): a single-row-group parquet file is an unsplittable
    * scan — one task runs the whole tokenize/hash/window chain while the
    * other cores idle. Delegates to [[graft.pipeline.PlanStats.spreadScan]],
    * the ONE guarded helper: it refuses shuffle-bearing plans (probing
    * `.rdd` on one would execute its stages under AQE), repartitions only
    * when the scan supplies fewer splits than `defaultParallelism`, and is
    * a no-op at scale where inputs carry many splits. Use only where
    * downstream per-row work dwarfs one pass over the input. Values are
    * unchanged — only row placement moves. */
  def spread(df: DataFrame): DataFrame =
    graft.pipeline.PlanStats.spreadScan(df,
      df.sparkSession.sparkContext.defaultParallelism)

  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  def dec3(c: Column): Column = c.cast(DecimalType(18, 3))

  /**
   * `events` with `ts` normalized to TIMESTAMP (session tz = UTC), whatever
   * physical type the generated parquet used: TIMESTAMP(NANOS) columns read
   * as long nanoseconds under `spark.sql.legacy.parquet.nanosAsLong` and are
   * truncated to µs; TIMESTAMP(MICROS) without tz reads as TIMESTAMP_NTZ and
   * casts wall-time-identically under the UTC session zone.
   *
   * `ts DIV 1000` truncates toward zero, which matches DuckDB's ns→µs floor
   * only for POST-EPOCH timestamps — the generated data is all ≥ 1970, so
   * the assumption holds; a pre-epoch corpus would need FLOOR division here.
   */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Stream-source INPUT fixture `name`: `df` written as XML once per
    * dataset. The write is setup, not the measured operator — bench passes
    * must time the stream drain, not re-renders of a static corpus (same
    * convention as the multimodal fixture tables). Returns the path. */
  def xmlInput(d: String, name: String, rowTag: String)(df: => DataFrame): String =
    Fixtures.once(d, name)(df.write.format("graft.xml").option("rowTag", rowTag).save(_))

  /** Drains `stream` to the end: each micro-batch's `sinks(batch)` frames
    * are appended, in order, as parquet under `base` (subdirectory →
    * frame), with the query's checkpoint in `$base/ckpt`. Returns what
    * landed in `$base/out`. */
  def drain(s: SparkSession, stream: DataFrame, base: String)(
      sinks: DataFrame => Seq[(String, DataFrame)]): DataFrame = {
    val q = stream.writeStream
      .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sinks(bdf).foreach { case (dir, out) =>
          out.write.mode("append").parquet(s"$base/$dir")
        }
      }
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out")
  }

  /** Writes `df` as XML and reads it back through the graft source. */
  def xmlRoundtrip(
      s: SparkSession,
      df: DataFrame,
      tag: String,
      inferSchema: Boolean = false): DataFrame = {
    val path = Fixtures.scratch(s"roundtrip/$tag")
    df.write.format("graft.xml").option("rowTag", tag).save(path)
    val reader = s.read.format("graft.xml").option("rowTag", tag)
    if (inferSchema) reader.load(path) else reader.schema(df.schema).load(path)
  }

  /** Stores a driver-side integer matrix as (cluster, dim, c) rows. */
  def writeMatrix(s: SparkSession, m: Array[Array[Long]], path: String): Unit = {
    import s.implicits._
    m.zipWithIndex.flatMap { case (c, i) => c.zipWithIndex.map { case (v, dim) => (i, dim, v) } }
      .toSeq.toDF("cluster", "dim", "c").repartition(1).write.parquet(path)
  }

  /** Reads back a matrix stored by [[writeMatrix]]. */
  def readMatrix(s: SparkSession, path: String): Array[Array[Long]] = {
    val rows = s.read.parquet(path).collect()
    val m = Array.ofDim[Long](rows.map(_.getInt(0)).max + 1, rows.map(_.getInt(1)).max + 1)
    rows.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    m
  }

  // ---- build-once artifacts shared by several queries (see Fixtures) ----

  /** The two-level k-means model (kc=3, kf=3, 2+2 iters over embeddings),
    * fitted once per dataset — the stored-model convention shared by q242
    * (serve) and q243 (refresh): the coarse matrix and the (shard, fcl, cv)
    * fine table are the SAME parquet artifacts a production lifecycle would
    * persist at train time. */
  def twoLevelModel(
      s: SparkSession, d: String): (Array[Array[Long]], DataFrame) = {
    val path = Fixtures.once(d, "twolevel_k3x3") { p =>
      val (coarse, fine) = Similarity.kmeansTwoLevelModel(
        t(s, d, "embeddings"), "vec_id", "embedding", kCoarse = 3,
        kFine = 3, itersCoarse = 2, itersFine = 2)
      writeMatrix(s, coarse, s"$p/coarse")
      fine.repartition(1).write.parquet(s"$p/fine")
    }
    (readMatrix(s, s"$path/coarse"), s.read.parquet(s"$path/fine"))
  }

  /** SemDeDup survivor index (cluster, id, v), built once per dataset
    * through the stored two-level model — the q103 persisted-artifact
    * convention on the semantic dedup path (q248 probes it). */
  def semDeDupIndex(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "semdedup_index_tl33_t42") { p =>
      val (coarse, fine) = twoLevelModel(s, d)
      Similarity.semDeDupIndexFromModel(t(s, d, "embeddings"),
          "vec_id", "embedding", coarse, fine, kFine = 3, threshold = 0.42)
        .repartition(1).write.parquet(p)
    })

  /** The verified MinHash duplicate-component table, built once per
    * dataset — the q104/q113/q151 "build once, serve many" convention
    * applied to the dedup chain itself: a real pipeline materializes its
    * cluster assignment once, and every downstream analytic (cluster
    * sizes, keep-best, leakage-safe splits) reads the stored table instead
    * of re-mining the pair graph per report. */
  def dupComponents(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "dup_components_t90") { p =>
      val pairs = Dedup.minHashDedupPairs(t(s, d, "documents"), "doc_id", "text", 0.9)
      Dedup.connectedComponents(pairs, "id_a", "id_b").write.parquet(p)
    })

  /** The weighted posting index (`postings`) and its ranking-stat
    * sidecars (`doclens` = (id, dl), `stats` = the 1-row (__N, __T)),
    * built once per dataset — the "build once, serve many" contract:
    * q131/q154 queries read the stored stats instead of re-aggregating
    * the whole index per query. Returns the directory holding the three. */
  def weightedIndex(s: SparkSession, d: String): String =
    Fixtures.once(d, "weighted_index") { p =>
      Search.buildWeightedIndex(t(s, d, "documents"), "doc_id", "text")
        .write.parquet(s"$p/postings")
      val (docLens, stats) = Search.buildIndexStats(s.read.parquet(s"$p/postings"))
      docLens.write.parquet(s"$p/doclens")
      stats.write.parquet(s"$p/stats")
    }

  /** The 8-merge BPE table, trained once per dataset (the stored-model
    * convention): q157/q158 APPLY the stored table instead of retraining
    * per query. */
  def bpeMerges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "bpe_merges") { p =>
      TextAnalysis.bpeMerges(t(s, d, "documents"), "text", k = 8).write.parquet(p)
    })

  /** The even-id half's MinHash index (q103's curated index). */
  def minHashIndexEven(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "minhash_index") { p =>
      Dedup.minHashIndex(t(s, d, "documents").where(col("doc_id") % 2 === 0),
        "doc_id", "text").write.parquet(p)
    })

  /** The corpus's positional index (q132's). */
  def positionalIndex(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "positional_index") { p =>
      Search.buildPositionalIndex(t(s, d, "documents"), "doc_id", "text").write.parquet(p)
    })

  /** The corpus's inverted index (q130's). */
  def invertedIndex(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "inverted_index") { p =>
      Search.buildInvertedIndex(t(s, d, "documents"), "doc_id", "text").write.parquet(p)
    })

  /** The even-id half's inverted index (q151's base generation). */
  def invertedIndexEven(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "inverted_index_even") { p =>
      Search.buildInvertedIndex(t(s, d, "documents").where(col("doc_id") % 2 === 0),
        "doc_id", "text").write.parquet(p)
    })

  /** The add-one bigram LM trained on the even-id half (q113's model). */
  def bigramLm(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "bigram_lm") { p =>
      TextAnalysis.bigramLmModel(t(s, d, "documents").where(col("doc_id") % 2 === 0),
        "text").write.parquet(p)
    })

  /** The 64-bucket Naive Bayes weight table (q233's fit, stored for q234). */
  def nbWeights(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "nb_weights_b64m") { p =>
      Classify.nbTrainHashed(t(s, d, "documents"), "text", nbLabelCol, buckets = 64)
        .repartition(1).write.parquet(p)
    })

  /** The dense 256-bucket DSIR λ table (stored for q239). */
  def dsirLambda(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "dsir_lambda_b256") { p =>
      Classify.dsirFitLambda(t(s, d, "documents"), "text", nbLabelCol, buckets = 256)
        .repartition(1).write.parquet(p)
    })

  /** The even-id half's IVF index (centroids + cells; q252's generation 1). */
  def ivfIndexEven(s: SparkSession, d: String): String =
    Fixtures.once(d, "ivf_index_even") { p =>
      Similarity.buildIvfIndex(t(s, d, "embeddings").where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p, nlist = 32, replicas = 3)
    }

  /**
   * Materializes a planted-fixture (doc_id, payload) table to parquet once
   * per (dataset, kind) and reads it back — so the multimodal queries time
   * the decode/resize/demux KERNEL, not per-row fixture synthesis (which
   * previously billed UDF generation cost to q30/q65/q67/q68 bench times).
   * Production payloads arrive as binary columns from real storage; the
   * parquet read is the honest stand-in for that scan. The version segment
   * is part of the cache key: bump it whenever a fixture formula changes
   * (the DuckDB oracles replay the formulas, so they change together).
   */
  def fixtureTable(
      s: SparkSession, dir: String, kind: String,
      mk: Column => Column): DataFrame =
    s.read.parquet(Fixtures.once(dir, s"fixture_${kind}_v1") {
      t(s, dir, "documents").select(col("doc_id"), mk(col("doc_id")).as("payload"))
        .write.parquet(_)
    })

  /** Planted-video fixture for q68: frame count, dims and colors are pure
    * integer functions of (doc_id, frame index), replayed exactly by the
    * DuckDB oracle — change them only together. */
  lazy val fixtureGfv = udf((id: Long) => {
    val n = 1 + (id % 4).toInt
    VideoCodec.encodeGfv((0 until n).map { k =>
      val w = 1 + ((id + k) % 6).toInt
      val h = 1 + ((id + k) % 3).toInt
      val rgb = ((((id * 5 + k * 11) % 256) << 16) |
        (((id * 3 + k * 7) % 256) << 8) | ((id + k * 13) % 256)).toInt
      ImageCodec.encodePng(w, h, rgb)
    })
  })

  /** Planted-video fixture for q69: a real MJPEG-in-AVI file per doc.
    * Frame count, stream dims and per-frame GRAY level are pure integer
    * functions of (doc_id, frame index), replayed exactly by the DuckDB
    * oracle — change them only together. Dims are per-doc (an AVI stream
    * declares them once); gray survives JPEG quality 1.0 exactly. */
  lazy val fixtureAvi = udf((id: Long) => {
    val n = 1 + (id % 4).toInt
    val w = 1 + (id % 6).toInt
    val h = 1 + (id % 3).toInt
    VideoCodec.encodeAviMjpeg((0 until n).map { k =>
      ImageCodec.encodeJpegGray(w, h, ((id * 7 + k * 29) % 256).toInt)
    }, w, h)
  })

  /** Planted-audio fixture for q93: base signal from the squared-index
    * Knuth hash (same nonlinearity rationale as the q88 image fixture —
    * linear-in-index signals collapse to rotational fingerprint families);
    * odd ids REPLACE one frame's samples with a constant, planting true
    * near pairs. Formulas replay exactly in the oracle — change them only
    * together. Max (base*200+i)^2 * 40503 ≈ 5.8e14, well inside Long. */
  lazy val fixtureFpWav = udf((id: Long) => {
    val base = ((id / 2) % 600).toInt
    val n = 100 + base % 40
    val pf = base % 64
    val parity = (id % 2).toInt
    val samples = Array.tabulate(n) { i =>
      if (parity == 1 && (i * 65) / n == pf) 32000.toShort
      else {
        val m = base * 200L + i
        (((m * m * 40503L) % 4294967296L) / 256L % 65536L - 32768L).toShort
      }
    }
    AudioCodec.encodeWavPcm16(16000, samples)
  })

  /** Planted-audio fixture for q67: rate and samples are pure integer
    * functions of the row id, replayed exactly by the DuckDB oracle —
    * change them only together. */
  lazy val fixtureWav = udf((id: Long) => {
    val rate = 8000 + (id % 4).toInt * 4000
    val n = 100 + (id % 50).toInt
    val samples = Array.tabulate(n) { i =>
      (((id * 31 + i * 17) % 65536) - 32768).toShort
    }
    AudioCodec.encodeWavPcm16(rate, samples)
  })

  /** Planted hash-noise fixture for q88: 8x8 per-pixel gray from a
    * Knuth multiplicative hash of the SQUARED pixel index (quadratic in base, see fixture comment) with `base = (id/2) % 600`, so
    * bit patterns are effectively uniform 64-bit and band buckets stay
    * BOUNDED as the corpus scales, like real image hashes. (Two earlier
    * plants — quadrants, then linear gradients — collapsed to a few
    * hundred patterns, because aHash thresholding erases flat regions and
    * an additive gradient intercept cancels against the mean; the banded
    * join then benched fixture degeneracy, not the operator.) Odd ids
    * perturb ONE pixel of their even sibling's image by +128, planting
    * true NEAR pairs at small Hamming radii; base repetition every 1200
    * ids plants exact dups. All formulas replay exactly in the oracle —
    * change them only together. */
  lazy val fixtureGradPng = udf((id: Long) => {
    val base = ((id / 2) % 600).toInt
    val px = base % 8
    val py = (base / 8) % 8
    val parity = (id % 2).toInt
    val pixels = Array.tabulate(8, 8) { (y, x) =>
      val n = base * 64L + y * 8L + x
      // n^2 before the multiply: any pixel value of the form
      // F(C_base + G(idx)) collapses to ~256 rotational bit patterns
      // under aHash's own-mean threshold; the quadratic cross term makes
      // per-pixel increments base-dependent. Max n^2*K ~ 3.9e18 < 2^63.
      val g = (((n * n * 2654435761L) % 4294967296L) / 16777216L).toInt
      if (parity == 1 && x == px && y == py) (g + 128) % 256 else g
    }
    ImageCodec.encodeGrayPixelsPng(pixels)
  })

  /** Planted two-tone fixture for q86: dims, split column and the two
    * grays are pure integer functions of the row id, replayed exactly by
    * the DuckDB oracle — change them only together. Grays cycle with
    * period 10 (vs 5/7 for dims/split), so the aHash tuple repeats every
    * lcm(5,7,10)=70 ids and plants real duplicate groups. */
  lazy val fixtureTwoTonePng = udf((id: Long) => {
    val w = 8 + (id % 5).toInt
    val h = 8 + (id % 3).toInt
    val split = 1 + (id % 7).toInt
    val grayA = (((id % 10) * 13 + 7) % 256).toInt
    val grayB = (((id % 10) * 29 + 3) % 256).toInt
    ImageCodec.encodeTwoTonePng(w, h, split, grayA, grayB)
  })

  /** Planted-image fixture shared by q30 and q65: dims and color are pure
    * functions of the row id, and BOTH DuckDB oracles replay exactly these
    * formulas — change them only together. */
  lazy val fixturePng = udf((id: Long) => {
    val w = 1 + (id % 8).toInt
    val h = 1 + (id % 5).toInt
    val rgb = (((id % 256) << 16) | (((id * 7) % 256) << 8) | ((id * 13) % 256)).toInt
    ImageCodec.encodePng(w, h, rgb)
  })

  // ---- oracle SQL shared by several queries: one replay rule each ----
  // A margin-prefixed fragment keeps its `|` margins and is interpolated
  // into a `stripMargin` template, whose one strip removes them: a fragment
  // stripped on its own would lose the margin of a line opening with `||`.

  /** The embeddings table micro-quantized to (id, dim, q) rows — the
    * shared `ex` CTE every Lloyd-family oracle trains from. */
  val embeddingsExCte: String =
    """ex AS MATERIALIZED (
      |  SELECT vec_id AS id, p.i - 1 AS dim,
      |    CAST(round(CAST(p.x AS DOUBLE) * 1e6) AS BIGINT) AS q
      |  FROM embeddings,
      |    unnest(list_transform(embedding, (x, i) -> {'x': x, 'i': i})) AS t(p))"""
      .stripMargin

  /** The integer-Lloyd replay CTE chain (seeds → c0 → a1/c1 … a_n/c_n)
    * over a caller-provided `ex(id, dim, q)` micro-quantized CTE — the
    * q204 arithmetic, source-agnostic so composed gates (q232's chunk
    * embeddings) share it verbatim with the embeddings-table gates. `k`
    * is SQL: a literal, or a scalar subquery when k derives from the
    * data. */
  def lloydIterOracleCtes(
      k: String, iters: Int, seed: String, exTable: String = "ex"): String = {
    val seeds =
      s"""seeds AS (
         |  SELECT id, rn - 1 AS cluster FROM (
         |    SELECT id, row_number() OVER (
         |        ORDER BY md5('$seed|' || CAST(id AS VARCHAR)), id) AS rn
         |    FROM (SELECT DISTINCT id FROM $exTable)) WHERE rn <= $k)""".stripMargin
    val c0 =
      s"c0 AS (SELECT s.cluster, e.dim, e.q AS c FROM seeds s JOIN $exTable e USING (id))"
    val iterCtes = (1 to iters).map { n =>
      s"""a$n AS (
         |  SELECT id, cluster FROM (
         |    SELECT e.id, c.cluster, sum((e.q - c.c) * (e.q - c.c)) AS d2
         |    FROM $exTable e JOIN c${n - 1} c ON e.dim = c.dim
         |    GROUP BY e.id, c.cluster)
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1),
         |c$n AS (
         |  SELECT p.cluster, p.dim, coalesce(u$n.c, p.c) AS c
         |  FROM c${n - 1} p LEFT JOIN (
         |    SELECT a.cluster, e.dim, CAST(sum(e.q) // count(*) AS BIGINT) AS c
         |    FROM a$n a JOIN $exTable e USING (id) GROUP BY a.cluster, e.dim) u$n
         |  ON p.cluster = u$n.cluster AND p.dim = u$n.dim)""".stripMargin
    }
    (Seq(seeds, c0) ++ iterCtes).mkString(",\n")
  }

  /** Two-level Lloyd replay CTEs (q237/q238): the coarse
    * [[lloydIterOracleCtes]] chain at salt `seed|c`, the shard argmin,
    * then the fine per-shard recurrence (fseeds → f0 → g1/f1 …) —
    * [[graft.pipeline.Similarity.kmeansTwoLevelAssign]]'s exact integer
    * arithmetic with centroids keyed by (shard, fcl) and empty fine
    * clusters keeping their previous centroid. `kc` and `kf` are SQL,
    * as [[lloydIterOracleCtes]]' `k`. */
  def twoLevelOracleCtes(
      kc: String, kf: String, itersC: Int, itersF: Int, seed: String,
      exTable: String = "ex"): String = {
    val coarse = lloydIterOracleCtes(kc, itersC, seed + "|c", exTable)
    val shards =
      s"""shards AS (
         |  SELECT id, cluster AS shard FROM (
         |    SELECT e.id, c.cluster, sum((e.q - c.c) * (e.q - c.c)) AS d2
         |    FROM $exTable e JOIN c$itersC c ON e.dim = c.dim
         |    GROUP BY e.id, c.cluster)
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1)"""
        .stripMargin
    val fseeds =
      s"""fseeds AS (
         |  SELECT id, shard, rn - 1 AS fcl FROM (
         |    SELECT id, shard, row_number() OVER (PARTITION BY shard
         |        ORDER BY md5('$seed|f|' || CAST(id AS VARCHAR)), id) AS rn
         |    FROM shards)
         |  WHERE rn <= $kf)""".stripMargin
    val f0 =
      s"f0 AS (SELECT s.shard, s.fcl, e.dim, e.q AS c " +
        s"FROM fseeds s JOIN $exTable e USING (id))"
    val iterCtes = (1 to itersF).map { n =>
      s"""g$n AS (
         |  SELECT id, shard, fcl FROM (
         |    SELECT e.id, sh.shard, c.fcl,
         |      sum((e.q - c.c) * (e.q - c.c)) AS d2
         |    FROM $exTable e JOIN shards sh USING (id)
         |    JOIN f${n - 1} c ON c.shard = sh.shard AND c.dim = e.dim
         |    GROUP BY e.id, sh.shard, c.fcl)
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, fcl) = 1),
         |f$n AS (
         |  SELECT p.shard, p.fcl, p.dim, coalesce(u.c, p.c) AS c
         |  FROM f${n - 1} p LEFT JOIN (
         |    SELECT a.shard, a.fcl, e.dim,
         |      CAST(sum(e.q) // count(*) AS BIGINT) AS c
         |    FROM g$n a JOIN $exTable e USING (id)
         |    GROUP BY a.shard, a.fcl, e.dim) u
         |  ON p.shard = u.shard AND p.fcl = u.fcl AND p.dim = u.dim)"""
        .stripMargin
    }
    (Seq(coarse, shards, fseeds, f0) ++ iterCtes).mkString(",\n")
  }

  /** Planted-HTML fixture for q201: each document's text wrapped in a
    * deterministic page (style block, conditional script with a bare `<`
    * and a fake tag INSIDE it, comment, tags, all six entities incl. the
    * double-escape `&amp;amp;`) — one SQL string both engines run
    * verbatim, the q161 planting convention. */
  val markupFixtureSql: String =
    """'<html><head><style type="text/css">.c' || CAST(doc_id % 7 AS STRING) ||
      |' { color: red; }</style>' ||
      |CASE WHEN doc_id % 3 = 0
      |  THEN '<script defer>if (1 < ' || CAST(doc_id % 9 AS STRING) ||
      |       ') { s = "<p>"; }</script>'
      |  ELSE '' END ||
      |'</head><body><!-- id ' || CAST(doc_id AS STRING) ||
      |' --><h1 class="t">T&amp;' || CAST(doc_id % 5 AS STRING) ||
      |'</h1><p id="p1">' || coalesce(text, '') ||
      |' &lt;eof&gt;&nbsp;&quot;q&quot;&#39;s &amp;amp;</p></body></html>'"""
      .stripMargin.replace("\n", " ")

  /** [[graft.pipeline.TextAnalysis.stripMarkup]]'s exact chain as DuckDB
    * SQL (RE2-safe patterns, 'g' global flag, entity order with `&amp;`
    * last) — the shared-arithmetic convention: the oracle runs the SAME
    * rewrites, step for step. */
  def stripMarkupSql(c: String): String = {
    val noScript =
      s"""regexp_replace($c, '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g')"""
    val noStyle =
      s"""regexp_replace($noScript, '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g')"""
    val noComment = s"""regexp_replace($noStyle, '(?s)<!--.*?-->', ' ', 'g')"""
    val noTags = s"""regexp_replace($noComment, '(?s)<[^>]*>', ' ', 'g')"""
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "''", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (ent, ch)) =>
        s"replace($acc, '$ent', '$ch')" }
    s"""trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"""
  }

  /** Positive-class label shared by q233/q234/q235: a curated source
    * ALLOWLIST (the CCNet "Wikipedia as target" shape), matched on the
    * source's replica-invariant prefix so the label ratio survives
    * GenScale's per-replica `xk` source suffixes. One expression both
    * engines run — [[nbLabelSql]] is its DuckDB text. */
  def nbLabelCol: Column =
    expr("regexp_extract(source, '^src[0-9]+', 0) " +
      "IN ('src0', 'src1', 'src2', 'src3')")

  val nbLabelSql: String =
    "regexp_extract(source, '^src[0-9]+') IN ('src0', 'src1', 'src2', 'src3')"

  /** [[graft.pipeline.Classify.nbTrainHashed]]'s exact fit replay as
    * DuckDB CTEs — md5 token buckets (the q97 hash), per-class
    * occurrence counts, the 64-row grid LLR table `w` (every bucket
    * present, add-one smoothing, ONE ln() rounded to micro-nats per
    * bucket) and the doc-count prior row `pr`. Shared verbatim by q233
    * (the fit gate) and q234 (the stored-model serve gate, whose stored
    * == refit contract is exactly this SQL). */
  def nbOracleCtes: String =
    s"""tk AS (
      |  SELECT $nbLabelSql AS y,
      |    unnest(string_split_regex(trim(text), '\\s+')) AS token
      |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
      |cnt AS (
      |  SELECT ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket,
      |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
      |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
      |  FROM tk GROUP BY 1),
      |tot AS (
      |  SELECT CAST(coalesce(sum(c_pos), 0) AS BIGINT) AS n_pos,
      |    CAST(coalesce(sum(c_neg), 0) AS BIGINT) AS n_neg FROM cnt),
      |w AS (
      |  SELECT CAST(g.bucket AS INTEGER) AS bucket,
      |    CAST(coalesce(c.c_pos, 0) AS BIGINT) AS c_pos,
      |    CAST(coalesce(c.c_neg, 0) AS BIGINT) AS c_neg,
      |    CAST(round((ln((coalesce(c.c_pos, 0) + 1) /
      |        CAST(t.n_pos + 64 AS DOUBLE)) -
      |      ln((coalesce(c.c_neg, 0) + 1) /
      |        CAST(t.n_neg + 64 AS DOUBLE))) * 1e6, 0) AS BIGINT) AS llr_micro
      |  FROM (SELECT unnest(range(64)) AS bucket) g
      |  LEFT JOIN cnt c ON c.bucket = g.bucket CROSS JOIN tot t),
      |pr AS (
      |  SELECT CAST(-1 AS INTEGER) AS bucket, d_pos AS c_pos, d_neg AS c_neg,
      |    CAST(round(ln((d_pos + 1) / CAST(d_neg + 1 AS DOUBLE)) * 1e6, 0)
      |      AS BIGINT) AS llr_micro
      |  FROM (SELECT
      |    CAST(sum(CASE WHEN $nbLabelSql THEN 1 ELSE 0 END) AS BIGINT) AS d_pos,
      |    CAST(sum(CASE WHEN $nbLabelSql THEN 0 ELSE 1 END) AS BIGINT) AS d_neg
      |    FROM documents))""".stripMargin

  /** The q62 quality-stat CTE chain, parameterized by the source CTE —
    * shared by the standalone gates (over `documents`) and the q215
    * funnel (over the stripped corpus). */
  def qualityStatsCtes(src: String): String =
      """l AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |                x -> len(x) > 0) AS lines
        |  FROM __SRC__),
        |s AS (
        |  SELECT doc_id,
        |    coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS tc,
        |    coalesce(CASE WHEN len(trim(text)) = 0 THEN 0.0
        |         ELSE CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> len(t))) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END, 0.0) AS mwl,
        |    coalesce(CASE WHEN len(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE) / len(text) END, 0.0) AS pr,
        |    coalesce(CASE WHEN len(trim(text)) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','this','that'], lower(t)))) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END, 0.0) AS sr,
        |    coalesce(CASE WHEN len(lines) = 0 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) END, 0.0) AS dlf
        |  FROM l)""".stripMargin.replace("__SRC__", src)

  /** The q62 composite keep predicate — one string, reused verbatim. */
  val qualityKeepSql: String =
    "NOT (tc < 20 OR tc > 100000 OR mwl < 3.0 OR mwl > 10.0 " +
      "OR pr > 0.2 OR sr < 0.02 OR dlf > 0.3)"

  val qualityOracleSql: String =
      s"""WITH ${qualityStatsCtes("documents")}
        |SELECT doc_id,
        |  ($qualityKeepSql) AS keep,
        |  concat_ws(',',
        |    CASE WHEN tc < 20 THEN 'too_short' END,
        |    CASE WHEN tc > 100000 THEN 'too_long' END,
        |    CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 'word_len' END,
        |    CASE WHEN pr > 0.2 THEN 'punct' END,
        |    CASE WHEN sr < 0.02 THEN 'stopwords' END,
        |    CASE WHEN dlf > 0.3 THEN 'dup_lines' END) AS reasons
        |FROM s ORDER BY doc_id""".stripMargin

  /** q146/q153 oracle: the per-source even-vs-odd JS divergence — the
    * aligned count table via FILTER, one rounded ln per (token, side),
    * HUGEINT-exact weighted sums, truncating `//` at every seam. q153's
    * streamed counts are additive, so the same SQL gates both. */
  def jsDivergenceOracleSql: String =
    """WITH tok AS (
      |  SELECT source, doc_id % 2 AS side,
      |    unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0),
      |c AS (
      |  SELECT source, w,
      |    CAST(count(*) FILTER (WHERE side = 0) AS BIGINT) AS a,
      |    CAST(count(*) FILTER (WHERE side = 1) AS BIGINT) AS b
      |  FROM tok GROUP BY source, w),
      |t AS (
      |  SELECT source, CAST(sum(a) AS BIGINT) AS ta,
      |    CAST(sum(b) AS BIGINT) AS tb
      |  FROM c GROUP BY source),
      |j AS (
      |  SELECT c.source, a, b, ta, tb,
      |    CASE WHEN a > 0 AND ta > 0 AND tb > 0 THEN
      |      CAST(round(ln((CAST(2 AS DOUBLE) * CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)) /
      |        (CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)
      |         + CAST(b AS DOUBLE) * CAST(ta AS DOUBLE))) * 1e6, 0) AS BIGINT)
      |      ELSE 0 END AS terma,
      |    CASE WHEN b > 0 AND ta > 0 AND tb > 0 THEN
      |      CAST(round(ln((CAST(2 AS DOUBLE) * CAST(b AS DOUBLE) * CAST(ta AS DOUBLE)) /
      |        (CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)
      |         + CAST(b AS DOUBLE) * CAST(ta AS DOUBLE))) * 1e6, 0) AS BIGINT)
      |      ELSE 0 END AS termb
      |  FROM c JOIN t ON c.source = t.source),
      |g AS (
      |  SELECT source, max(ta) AS tokens_a, max(tb) AS tokens_b,
      |    CASE WHEN max(ta) > 0 AND max(tb) > 0
      |         THEN CAST(sum(a * terma) AS BIGINT) // max(ta) END AS kl_a_micro_nats,
      |    CASE WHEN max(ta) > 0 AND max(tb) > 0
      |         THEN CAST(sum(b * termb) AS BIGINT) // max(tb) END AS kl_b_micro_nats
      |  FROM j GROUP BY source)
      |SELECT source, tokens_a, tokens_b, kl_a_micro_nats, kl_b_micro_nats,
      |  (kl_a_micro_nats + kl_b_micro_nats) // 2 AS jsd_micro_nats
      |FROM g ORDER BY source""".stripMargin

  /** q152 oracle: vocabulary as delimited symbol strings, then per
    * iteration a pair-count CTE, a (weight DESC, a, b) top-1 CTE, and a
    * literal-replace rewrite CTE — DuckDB's `replace` shares Java's
    * non-overlapping left-to-right scan, so the greedy merge order
    * replays exactly. */
  /** The BPE TRAINING CTE chain (w0 vocab + per-iteration pair-count /
    * top-1 / rewrite CTEs, m1..mK the merge rows) — shared by the q152
    * merge-table oracle and the q157/q158 encode oracles, which replay
    * the SAME merges the Spark side trained and stored. No leading
    * WITH, so a caller can prepend WITH or WITH RECURSIVE. */
  def bpeTrainCtes(k: Int): String = {
    val prefix =
      """w0 AS (
        |  SELECT regexp_replace(w, '(.)', '|\1|', 'g') AS repr,
        |    CAST(count(*) AS BIGINT) AS freq
        |  FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |    FROM documents
        |    WHERE text IS NOT NULL AND len(trim(text)) > 0)
        |  WHERE NOT contains(w, '|')
        |  GROUP BY w)""".stripMargin
    val iters = (1 to k).map { i =>
      s""",
         |p$i AS (
         |  SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS wgt
         |  FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(l)),
         |      j -> {'a': l[j], 'b': l[j + 1]})) AS pr
         |    FROM (SELECT freq, string_split(trim(repr, '|'), '||') AS l
         |          FROM w${i - 1})
         |    WHERE len(l) >= 2)
         |  GROUP BY 1, 2),
         |m$i AS (SELECT a, b, wgt FROM p$i ORDER BY wgt DESC, a, b LIMIT 1),
         |w$i AS (
         |  SELECT replace(repr, '|' || m.a || '||' || m.b || '|',
         |                 '|' || m.a || m.b || '|') AS repr, freq
         |  FROM w${i - 1}, m$i m)""".stripMargin
    }.mkString
    prefix + iters
  }

  /** The BPE ENCODE CTE chain: corpus words (tok), the distinct-word
    * vocabulary re-encoded by replaying merges m1..mK in rank order
    * (v0..vK — the identical literal replace the trainer used), per-word
    * subword counts (enc), and per-doc totals (dc). Extends
    * [[bpeTrainCtes]]; no leading WITH. */
  def bpeEncodeCtes(k: Int): String = {
    val vChain = (1 to k).map { i =>
      s""",
         |v$i AS (
         |  SELECT w, replace(repr, '|' || m.a || '||' || m.b || '|',
         |                    '|' || m.a || m.b || '|') AS repr
         |  FROM v${i - 1}, m$i m)""".stripMargin
    }.mkString
    bpeTrainCtes(k) +
      """,
        |tok AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |    FROM documents
        |    WHERE text IS NOT NULL AND len(trim(text)) > 0)
        |  WHERE NOT contains(w, '|')),
        |v0 AS (
        |  SELECT DISTINCT w, regexp_replace(w, '(.)', '|\1|', 'g') AS repr
        |  FROM tok)""".stripMargin + vChain +
      s""",
         |enc AS (
         |  SELECT w, CAST(len(string_split(trim(repr, '|'), '||')) AS BIGINT) AS n
         |  FROM v$k),
         |dc AS (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS bt
         |  FROM tok JOIN enc USING (w) GROUP BY doc_id)""".stripMargin
  }

  /** Shared replay prefix for every gate probing the stored SemDeDup
    * survivor index (q248/q251/q255): fit (two-level CTEs), full-corpus
    * serve (ssh/saf), within-cluster cosine closure -> `idx` =
    * (cluster, id, v) survivors. Callers append their own batch CTEs. */
  def semDeDupIdxCtes: String =
      s"""${embeddingsExCte},
        |${twoLevelOracleCtes(kc = "3", kf = "3", itersC = 2, itersF = 2,
             seed = "km")},
        |ssh AS (
        |  SELECT id, cluster AS shard FROM (
        |    SELECT e.id, c.cluster, sum((e.q - c.c) * (e.q - c.c)) AS d2
        |    FROM ex e JOIN c2 c ON e.dim = c.dim
        |    GROUP BY e.id, c.cluster)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1),
        |saf AS (
        |  SELECT id, CAST(shard * 3 + fcl AS INTEGER) AS cluster FROM (
        |    SELECT e.id, sh.shard, c.fcl,
        |      sum((e.q - c.c) * (e.q - c.c)) AS d2
        |    FROM ex e JOIN ssh sh USING (id)
        |    JOIN f2 c ON c.shard = sh.shard AND c.dim = e.dim
        |    GROUP BY e.id, sh.shard, c.fcl)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, fcl) = 1),
        |emb2 AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (
        |  SELECT fa.id AS id_a, fb.id AS id_b
        |  FROM saf fa JOIN saf fb ON fa.cluster = fb.cluster AND fa.id < fb.id
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
        |  WHERE comp <> id),
        |idx AS (
        |  SELECT s2.cluster, s2.id, e.v
        |  FROM saf s2 JOIN emb2 e USING (id)
        |  ANTI JOIN losers ON s2.id = losers.id)""".stripMargin

  /** Shared by q248 (batch) and q251 (streaming drained union):
    * fit, corpus serve, within-cluster closure, survivor index,
    * batch serve, cosine probe — all replayed from raw parquet. */
  def semDeDupIncrementalOracleSql: String =
      s"""WITH RECURSIVE ${semDeDupIdxCtes},
        |nex AS MATERIALIZED (
        |  SELECT vec_id + 100000 AS id, p.i - 1 AS dim,
        |    CAST(round(CAST(p.x AS DOUBLE) * 1e6) AS BIGINT) AS q
        |  FROM embeddings,
        |    unnest(list_transform(
        |      CASE WHEN vec_id % 2 = 0 THEN embedding
        |           ELSE list_reverse(embedding) END,
        |      (x, i) -> {'x': x, 'i': i})) AS t(p)),
        |bemb AS (
        |  SELECT vec_id + 100000 AS id,
        |    list_transform(
        |      CASE WHEN vec_id % 2 = 0 THEN embedding
        |           ELSE list_reverse(embedding) END,
        |      x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |nsh AS (
        |  SELECT id, cluster AS shard FROM (
        |    SELECT e.id, c.cluster, sum((e.q - c.c) * (e.q - c.c)) AS d2
        |    FROM nex e JOIN c2 c ON e.dim = c.dim
        |    GROUP BY e.id, c.cluster)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1),
        |naf AS (
        |  SELECT id, CAST(shard * 3 + fcl AS INTEGER) AS cluster FROM (
        |    SELECT e.id, sh.shard, c.fcl,
        |      sum((e.q - c.c) * (e.q - c.c)) AS d2
        |    FROM nex e JOIN nsh sh USING (id)
        |    JOIN f2 c ON c.shard = sh.shard AND c.dim = e.dim
        |    GROUP BY e.id, sh.shard, c.fcl)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, fcl) = 1)
        |SELECT b.id AS batch_id, i.id AS index_id
        |FROM naf b JOIN bemb bv ON bv.id = b.id
        |JOIN idx i ON i.cluster = b.cluster
        |WHERE list_cosine_similarity(bv.v, i.v) >= 0.42
        |ORDER BY batch_id, index_id""".stripMargin

  /** The planted-link text of q120/q136/q142 (the `concat` of q120 and
    * [[GraphQueries]]' planted domain graph) as a DuckDB expression: every
    * doc links host<id%7>.example<id%3>.com, and even ids a mirror domain.
    * Margin-prefixed. */
  val plantedLinkTextSql: String =
    """text || ' see https://host' || CAST(doc_id % 7 AS VARCHAR)
      |      || '.example' || CAST(doc_id % 3 AS VARCHAR)
      |      || '.com/p/' || CAST(doc_id AS VARCHAR)
      |      || CASE WHEN doc_id % 2 = 0
      |              THEN ' and http://mirror' || CAST(doc_id % 5 AS VARCHAR)
      |                   || '.example.org/x'
      |              ELSE '' END AS text"""

  /** [[graft.pipeline.TextAnalysis.tokens]]'s whitespace split as the
    * DuckDB CTE `w(doc_id, toks)` over `from`: a blank text has no tokens
    * (DuckDB splits '' to ['']). `split` is the column split —
    * `lower(text)` for the case-folded grams of the decontamination
    * family. Margin-prefixed. */
  def tokensCte(split: String = "text", from: String = "documents"): String =
    raw"""w AS (
      |  SELECT doc_id,
      |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim($split), '\s+') END AS toks
      |  FROM $from)"""

  /** [[graft.pipeline.Decontaminate]]'s n-gram set as DuckDB CTEs: the
    * distinct lower-cased word 5-grams of each doc, `g(doc_id, gram)`,
    * over [[tokensCte]]'s `w`. Margin-prefixed. */
  def gramsCtes(from: String = "documents"): String =
    s"""${tokensCte("lower(text)", from)},
      |g AS (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
      |         ELSE list_distinct(list_transform(range(len(toks) - 4),
      |                i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
      |    END) AS gram
      |  FROM w)"""

  /** [[graft.pipeline.Classify.dsirFitLambda]]'s counts as DuckDB CTEs:
    * each labelled doc's tokens `b`, its md5-hashed bigram buckets `occ`
    * (256 buckets), per-bucket target/raw counts `cnt` and their totals
    * `tot`. Margin-prefixed. */
  def dsirCountCtes: String =
    s"""b AS (
      |  SELECT doc_id, $nbLabelSql AS y,
      |    string_split_regex(trim(text), '\\s+') AS toks
      |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
      |occ AS (
      |  SELECT doc_id, y,
      |    ('0x' || substr(md5(bg), 1, 8))::BIGINT % 256 AS bucket
      |  FROM (SELECT doc_id, y,
      |      unnest(list_transform(range(1, len(toks)),
      |        i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |    FROM b WHERE len(toks) >= 2)),
      |cnt AS (
      |  SELECT bucket,
      |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
      |    CAST(count(*) AS BIGINT) AS c_r
      |  FROM occ GROUP BY bucket),
      |tot AS (
      |  SELECT CAST(coalesce(sum(c_t), 0) AS BIGINT) AS n_t,
      |    CAST(coalesce(sum(c_r), 0) AS BIGINT) AS n_r FROM cnt)"""

  /** The dense 256-row λ table `lam` over [[dsirCountCtes]]: every bucket
    * present, add-one smoothing, one ln() rounded to micro-nats per bucket
    * (the stored q239 table). Margin-prefixed. */
  val dsirLambdaCte: String =
    s"""lam AS (
      |  SELECT CAST(g.bucket AS INTEGER) AS bucket,
      |    CAST(round((ln((coalesce(c.c_t, 0) + 1) /
      |        CAST(t.n_t + 256 AS DOUBLE)) -
      |      ln((coalesce(c.c_r, 0) + 1) /
      |        CAST(t.n_r + 256 AS DOUBLE))) * 1e6, 0) AS BIGINT)
      |      AS lambda_micro
      |  FROM (SELECT unnest(range(256)) AS bucket) g
      |  LEFT JOIN cnt c ON c.bucket = g.bucket CROSS JOIN tot t)"""

  /** [[graft.pipeline.Classify.dsirScoreHashed]]'s replay: the bigram
    * buckets `bocc` of the batch `bb(doc_id, toks)` and each doc's
    * bigram count and λ sum `ds` against `lam`. Margin-prefixed. */
  val dsirScoreCtes: String =
    s"""bocc AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(bg), 1, 8))::BIGINT % 256 AS bucket
      |  FROM (SELECT doc_id,
      |      unnest(list_transform(range(1, len(toks)),
      |        i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |    FROM bb WHERE len(toks) >= 2)),
      |ds AS (
      |  SELECT bocc.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(lambda_micro) AS BIGINT) AS dsir_micro
      |  FROM bocc JOIN lam USING (bucket) GROUP BY bocc.doc_id)"""

  /** q46's duplicate components in SQL: the token-set Jaccard >= 0.9
    * pairs `p`, both directions `e`, and the transitive closure
    * `reach(id, r)` (a recursive CTE: the caller writes `WITH RECURSIVE`).
    * Margin-prefixed. */
  val jaccardClosureCtes: String =
    raw"""t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks FROM documents),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |        len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
      |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
      |reach(id, r) AS (
      |  SELECT u, u FROM e
      |  UNION
      |  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u)"""

  /** [[graft.pipeline.TextAnalysis]]' gear-hash content-defined chunking
    * replayed over `d(ver, doc_id, text, n)`: the recursive per-char
    * rolling hash `step` (cut at >= 16 chars on hash % 32 = 0, forced at
    * 128) and the chunk spans `ch(ver, doc_id, start, pos)`. The caller
    * writes `WITH RECURSIVE`. Margin-prefixed. */
  val gearCdcChunkCtes: String =
    raw"""step(ver, doc_id, pos, h, start, cut) AS (
      |  SELECT ver, doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |         CAST(1 AS BIGINT), false
      |  FROM d
      |  UNION ALL
      |  SELECT ver, doc_id, pos, hh, st,
      |         (pos - st + 1 >= 16 AND hh % 32 = 0) OR pos - st + 1 = 128
      |  FROM (
      |    SELECT s.ver AS ver, s.doc_id AS doc_id, s.pos + 1 AS pos,
      |      ((CASE WHEN s.cut THEN 0 ELSE s.h END) * 2 +
      |        ('0x' || substr(md5('gear' ||
      |           CAST(unicode(substr(d.text, CAST(s.pos AS INTEGER) + 1, 1)) AS VARCHAR)),
      |           1, 15))::BIGINT) % 1152921504606846976 AS hh,
      |      CASE WHEN s.cut THEN s.pos + 1 ELSE s.start END AS st
      |    FROM step s JOIN d ON s.ver = d.ver AND s.doc_id = d.doc_id
      |    WHERE s.pos < d.n) x),
      |ch AS (
      |  SELECT ver, doc_id, start, pos FROM step WHERE cut
      |  UNION ALL
      |  SELECT s.ver, s.doc_id, s.start, s.pos
      |  FROM step s JOIN d ON s.ver = d.ver AND s.doc_id = d.doc_id
      |  WHERE s.pos = d.n AND NOT s.cut AND d.n > 0)"""

  /** The q155 HyperLogLog register build per source over its tokens: the
    * md5 register index and rank `c0`, the per-register max `regs`, and
    * the estimator inputs `est(__s, __v)` that
    * [[graft.pipeline.Graph.hllEstimateSql]] reads. Margin-prefixed. */
  val hllRegisterCtes: String =
    s"""tok AS (
      |  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS token
      |  FROM documents
      |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
      |c0 AS (
      |  SELECT source,
      |    ('0x' || substr(h, 1, 1))::BIGINT AS reg,
      |    CASE WHEN v60 = 0 THEN 61 ELSE 61 - length(bin(v60)) END AS val
      |  FROM (SELECT source, md5(token) AS h,
      |          ('0x' || substr(md5(token), 2, 15))::BIGINT AS v60
      |        FROM tok)),
      |regs AS (
      |  SELECT source, reg, CAST(max(val) AS BIGINT) AS val
      |  FROM c0 GROUP BY 1, 2),
      |agg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS registers_set,
      |    CAST(sum(CAST((1::BIGINT) << (61 - val) AS HUGEINT)) AS HUGEINT)
      |      AS sset
      |  FROM regs GROUP BY source),
      |est AS (
      |  SELECT source, registers_set,
      |    sset + CAST(16 - registers_set AS HUGEINT)
      |      * CAST(2305843009213693952 AS HUGEINT) AS __s,
      |    CAST(16 - registers_set AS INTEGER) AS __v
      |  FROM agg)"""

  /** [[graft.pipeline.Classify.nbScoreHashed]]'s per-doc scoring over
    * [[nbOracleCtes]]' weights and the token buckets `occ(doc_id,
    * bucket)`: token count, LLR sum and mean, and the prior-adjusted
    * prediction, for each doc of `documents d` (the caller filters `d`).
    * Margin-prefixed. */
  val nbScoreSql: String =
    """ds AS (
      |  SELECT occ.doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
      |    CAST(sum(w.llr_micro) AS BIGINT) AS nb_sum
      |  FROM occ JOIN w USING (bucket) GROUP BY occ.doc_id)
      |SELECT d.doc_id,
      |  coalesce(ds.n_tokens, 0) AS n_tokens,
      |  coalesce(ds.nb_sum, 0) AS nb_sum_micro,
      |  CASE WHEN coalesce(ds.n_tokens, 0) > 0
      |    THEN ds.nb_sum // ds.n_tokens END AS nb_mean_micro,
      |  CASE WHEN coalesce(ds.nb_sum, 0) + (SELECT llr_micro FROM pr) > 0
      |    THEN 1 ELSE 0 END AS predicted
      |FROM documents d LEFT JOIN ds USING (doc_id)"""

  /** q154's BM25 replay: the corpus vocabulary, its rank-18..21 query
    * terms, per-doc term frequencies and lengths, the index stats, and
    * each doc's summed [[graft.pipeline.Search.bm25ContributionSql]]
    * score `sc(doc_id, score_micro)`. Margin-prefixed. */
  def bm25ScoreCtes: String = {
    val contrib = graft.pipeline.Search.bm25ContributionSql(1200000L, 750000L)
    s"""allt AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS v
      |  FROM documents
      |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
      |vocab AS (SELECT v, count(*) AS f FROM allt GROUP BY v),
      |terms AS (SELECT v FROM vocab ORDER BY f DESC, v LIMIT 4 OFFSET 17),
      |tf AS (SELECT doc_id, v AS token, CAST(count(*) AS BIGINT) AS tf
      |       FROM allt GROUP BY doc_id, v),
      |dlt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |        FROM tf GROUP BY doc_id),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS __N,
      |              CAST(sum(dl) AS BIGINT) AS __T FROM dlt),
      |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS __df
      |        FROM tf WHERE token IN (SELECT v FROM terms) GROUP BY token),
      |j AS (
      |  SELECT tf.doc_id AS doc_id, tf.tf AS tf, dft.__df AS __df,
      |         dlt.dl AS dl, st.__N AS __N, st.__T AS __T
      |  FROM tf
      |  JOIN dft ON tf.token = dft.token
      |  JOIN dlt ON tf.doc_id = dlt.doc_id, st),
      |sc AS (
      |  SELECT doc_id, CAST(sum($contrib) AS BIGINT) AS score_micro
      |  FROM j GROUP BY doc_id)"""
  }

  /** q242/q249: the two-level model's serve replay — the stored fit
    * ([[twoLevelOracleCtes]] at kc = kf = 3, 2 + 2 iterations), then the
    * fresh batch (reversed vectors at offset ids) routed by coarse argmin
    * and assigned by fine argmin within its shard. */
  def twoLevelServeOracleSql: String =
    s"""WITH ${embeddingsExCte},
      |${twoLevelOracleCtes(kc = "3", kf = "3", itersC = 2, itersF = 2,
           seed = "km")},
      |nex AS MATERIALIZED (
      |  SELECT vec_id + 100000 AS id, p.i - 1 AS dim,
      |    CAST(round(CAST(p.x AS DOUBLE) * 1e6) AS BIGINT) AS q
      |  FROM embeddings,
      |    unnest(list_transform(list_reverse(embedding),
      |      (x, i) -> {'x': x, 'i': i})) AS t(p)),
      |nsh AS (
      |  SELECT id, cluster AS shard FROM (
      |    SELECT e.id, c.cluster, sum((e.q - c.c) * (e.q - c.c)) AS d2
      |    FROM nex e JOIN c2 c ON e.dim = c.dim
      |    GROUP BY e.id, c.cluster)
      |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1)
      |SELECT id, CAST(shard * 3 + fcl AS INTEGER) AS cluster, d2 FROM (
      |  SELECT e.id, sh.shard, c.fcl,
      |    CAST(sum((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS d2
      |  FROM nex e JOIN nsh sh USING (id)
      |  JOIN f2 c ON c.shard = sh.shard AND c.dim = e.dim
      |  GROUP BY e.id, sh.shard, c.fcl)
      |QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, fcl) = 1
      |ORDER BY id""".stripMargin
}
