package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CentroidFunctions, TopKFunctions, VectorFunctions}

/**
 * Similarity search over embedding columns (`array<float>`).
 *
 * Three paths, all designed so the corpus is never cross-joined and never
 * shuffled whole:
 *  - brute-force cosine top-k — exact; queries are broadcast, the corpus
 *    streams map-side once, and a bounded-heap partial aggregate
 *    ([[graft.functions.TopKByScore]]) reduces each task to k rows before the
 *    only (tiny) shuffle
 *  - sign-LSH (random hyperplane) near-pairs — candidates from an equi-join
 *    on compact (table, bucket) keys where each side carries only
 *    (id, table, bucket) ≈ 20 bytes, deduped on the id pair alone, with
 *    vectors joined back only for surviving candidates; planes scale with
 *    corpus size and tables with the recall target, so bucket occupancy and
 *    candidate volume stay linear in n
 *  - IVF top-k — centroids from driver-side k-means on a bounded sample;
 *    cell assignment is a map-side argmax expression (zero shuffle), probes
 *    are broadcast, so the whole search is map-side + one k-row aggregate
 */
object Similarity {

  /** Native single-pass dot product of two numeric array columns, in double. */
  def dot(a: Column, b: Column): Column = VectorFunctions.vec_dot(a, b)

  /** L2 norm of an array column, in double. */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity of two array columns (0 where either norm is 0). */
  def cosine(a: Column, b: Column): Column = VectorFunctions.vec_cosine(a, b)

  /** Explodes a top-k struct array into (query_id, rank, neighbor_id, sim) rows. */
  private def explodeTopK(grouped: DataFrame): DataFrame =
    grouped.select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "nb")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("nb.neighbor_id").as("neighbor_id"), col("nb.sim").as("sim"))

  /**
   * Exact top-k nearest neighbors by cosine for each query row. `queries` is
   * broadcast; the corpus streams map-side through the scan and each task
   * reduces to a k-entry heap per query before the final aggregate shuffle
   * (O(tasks × |queries| × k) rows). Ties broken by corpus id.
   */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(corpusIdCol).as("neighbor_id"), col(vecCol).as("cv"))
    val grouped = c.join(q, col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id")
      .agg(TopKFunctions.topk_by_score(
        cosine(col("qv"), col("cv")), col("neighbor_id"), k).as("topk"))
    explodeTopK(grouped)
  }

  /**
   * Hard-negative mining for contrastive training: each query's k most
   * cosine-similar corpus rows with a DIFFERENT label — the examples a
   * metric-learning batch wants precisely BECAUSE the encoder currently
   * confuses them. Same plan as [[bruteForceTopK]] (broadcast queries,
   * map-side bounded heap, O(tasks × |queries| × k) aggregate rows); the
   * label inequality rides the scan predicate, so rejected same-label
   * rows never reach the heap. Null-label rows match nothing on either
   * side (a null label is unknown, not "different").
   */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("__ql")))
    val c = corpus.select(col(corpusIdCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(labelCol).as("__cl"))
    val grouped = c.join(q,
        col("query_id") =!= col("neighbor_id") &&
          col("__ql").isNotNull && col("__cl").isNotNull &&
          col("__ql") =!= col("__cl"))
      .groupBy("query_id")
      .agg(TopKFunctions.topk_by_score(
        cosine(col("qv"), col("cv")), col("neighbor_id"), k).as("topk"))
    explodeTopK(grouped)
  }

  /**
   * Nearest-centroid label probe — the cheapest honest "are these
   * embeddings any good" eval: label centroids fit on the TRAIN slice
   * (integer micro sums, truncating div — the q138 centroid seam), every
   * EVAL row is assigned to its nearest centroid by exact integer
   * squared-L2 (ties to the smaller label), and the report is per-label
   * (n_eval, n_correct, accuracy in exact permille). The probe is linear
   * in the corpus and the model is |labels|·dim integers — when a frozen
   * encoder's centroid probe drops between snapshots, the embedding
   * space moved (the q138 drift read, made task-shaped).
   *
   * Scale shape: one (label, dim) partial-sum aggregate for the fit, the
   * centroid kernel's argmin against the |labels|·dim centroid matrix
   * (bounded collect) for the eval — inline up to 16 labels, a broadcast
   * join past that — and one |labels|-row aggregate. `idCol` is not read.
   */
  def centroidLabelProbe(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String): DataFrame = {
    def labelled(df: DataFrame): DataFrame =
      df.select(col(labelCol).cast("int").as("label"), quantize(col(vecCol)).as("qv"))
        .where(col("label").isNotNull)
    val cents = microSums(labelled(train), col("qv"), col("label"))
      .select(col("label"), col("dim"), expr("s div n").as("c"))
      .collect()
    require(cents.nonEmpty, "centroidLabelProbe: train slice has no labels")
    val byLabel = cents.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map {
      case (label, rows) =>
        label -> rows.sortBy(_.getInt(1)).map(_.getLong(2))
    }
    argmin(labelled(eval), byLabel.map(_._2).toArray, byLabel.map(_._1).toIndexedSeq)
      .select(col("label"), col("__best.cluster").as("pred"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy_permille",
        expr("n_correct * 1000 div n_eval"))
  }

  /**
   * Approximate near-neighbor pairs: candidates share a sign-LSH bucket in at
   * least one of `tables` independent hash tables, then exact cosine ≥
   * `threshold` re-ranking.
   *
   * Shuffle discipline: the self-join moves only (id, table, bucket) rows
   * (~20 bytes each — no vectors, no bucket arrays), duplicates across
   * agreeing tables are removed by a distinct on the **id pair alone**
   * (16 bytes), and vectors are joined back only for surviving candidates.
   * Both join inputs are the same subplan, so the (table, bucket) exchange
   * is built once and reused.
   *
   * Sizing: detection probability per table is p^planes with
   * p = 1 - acos(sim)/π. When not given, `numPlanes` scales with corpus
   * size as ⌈log₂(n/32)⌉ (keeps expected bucket occupancy ~32, so candidate
   * volume stays linear in n) and `tables` is solved from `recallTarget`
   * at the re-rank threshold: T = ⌈ln(1−R)/ln(1−p^planes)⌉. Lower
   * thresholds therefore cost more tables — that's the LSH trade, made
   * explicit instead of silently losing recall.
   *
   * The corpus size for auto-sizing comes from `nHint` when the caller knows
   * it, else from Catalyst plan statistics (row count if present, else a
   * size-in-bytes estimate), and only as a last resort from an extra
   * `count()` pass — at 100 TB that pass is a full scan, and planes only
   * need order-of-magnitude n (a misestimate shifts bucket occupancy;
   * `tables` re-solves from `recallTarget` at whatever planes came out, so
   * the recall bar holds either way).
   */
  def lshNearPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      numPlanes: Int = 0,
      tables: Int = 0,
      recallTarget: Double = 0.9999,
      seed: Long = 0xc0ffee00L,
      nHint: Long = 0L): DataFrame = {
    Dedup.requireIntegralId(df, idCol, "lshNearPairs")
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // Shared by the planes solve and the join-parallelism sizing below. The
    // count() fallback is only permitted when the planes solve needs it
    // anyway — partition sizing alone never pays an extra scan (0 → floor).
    val nEst = estimateRows(df, dim, nHint, allowCount = numPlanes <= 0)
    val planes =
      if (numPlanes > 0) numPlanes
      else {
        // Target bucket occupancy ~64: each extra plane halves buckets but
        // multiplies the table count the recall solve demands (at low
        // thresholds tables grow ~1/q per plane), and measured wall-time at
        // bench scale favors fewer planes + fewer tables over smaller
        // buckets. Recall is held by the tables solve either way.
        val n = math.max(1L, nEst)
        math.min(32, math.max(4, math.ceil(math.log(n / 64.0) / math.log(2.0)).toInt))
      }
    val nTables =
      if (tables > 0) tables
      else {
        val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
        val perTable = math.pow(p, planes)
        val t = math.ceil(math.log(1.0 - recallTarget) / math.log1p(-perTable))
        math.min(512, math.max(16, t.toInt))
      }

    // Only (id, t, b) survives into the join — the bucket array is consumed
    // by the generator and never shuffled. The generator argument stays an
    // inline expression: a bare attribute would trip InferFiltersFromGenerate
    // + predicate pushdown into re-running the bucket computation per row in
    // a scan-level filter.
    //
    // The explicit repartition pins join parallelism: the self-join's INPUT
    // is tiny (20-byte rows) but its OUTPUT is the candidate set, so AQE's
    // input-size-based coalescing would otherwise collapse the bucket join
    // onto a handful of tasks. Partitioning once by (t, b) also means both
    // join sides reuse a single exchange. The count grows with the
    // membership volume (n × tables), session default as the floor.
    val floor = df.sparkSession.sessionState.conf.numShufflePartitions
    val parts = Dedup.expansionPartitions(math.max(0L, nEst) * nTables, floor)
    val exploded = base.select(col("id"), posexplode(
        CentroidFunctions.sign_lsh_buckets(col("v"), nTables, planes, dim, seed)).as(Seq("t", "b")))
      .repartition(parts, col("t"), col("b"))

    val candidates = exploded.as("l").join(exploded.as("r"),
        col("l.t") === col("r.t") && col("l.b") === col("r.b") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()

    candidates
      .join(base.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Corpus row count for LSH auto-sizing: hint > plan statistics > count()
   *  (the count pass only when `allowCount`; otherwise 0 = "unknown"). */
  private[pipeline] def estimateRows(
      df: DataFrame, dim: Int, nHint: Long, allowCount: Boolean = true): Long = {
    if (nHint > 0) return nHint
    val plan = df.queryExecution.optimizedPlan
    PlanStats.rowCount(df) match {
      case Some(rc) => rc
      case None =>
        // Unknown relations report the defaultSizeInBytes sentinel (huge) —
        // only then pay the count().
        PlanStats.boundedSizeInBytes(df) match {
          case Some(size) =>
            // The divisor must match how sizeInBytes was produced. In-memory
            // relations (LocalRelation) compute it as rowCount × (8 + Σ field
            // defaultSize), so inverting with the same width is exact. File
            // scans report compressed on-disk bytes: there the float payload
            // dominates (4·dim; random embeddings compress ≈1:1) and a 2×
            // headroom covers codec gains — erring toward MORE rows costs at
            // most one extra plane, and `tables` re-solves from recallTarget.
            val inMemory = plan.collectLeaves().forall(
              _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
            val est =
              if (inMemory) size / (8L + df.schema.map(_.dataType.defaultSize.toLong).sum)
              else size * 2 / math.max(16L, 4L * dim)
            math.max(1L, est.toLong)
          case None =>
            if (allowCount) df.count() else 0L
        }
    }
  }

  /**
   * Deterministic k-means (cosine assignment, Lloyd) on a bounded id-ordered
   * sample collected to the driver — centroid training state is nlist × dim
   * doubles, so the sample pass is the only data touch and the model ships
   * inside the assignment expression.
   */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      sampleSize: Int = 4096,
      iters: Int = 10): Array[Array[Double]] = {
    val sample = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy("id").limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "empty corpus")
    val k = math.min(nlist, sample.length)
    val dim = sample(0).length

    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else d / den
    }

    // Deterministic init: evenly-strided sample rows (farthest-first seeding
    // was tried and picks outliers on near-uniform data, hurting recall).
    val stride = math.max(1, sample.length / k)
    var cents = Array.tabulate(k)(i => sample(math.min(i * stride, sample.length - 1)).clone())

    var it = 0
    while (it < iters) {
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestSim = Double.NegativeInfinity; var c = 0
        while (c < k) {
          val s = cos(v, cents(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else { val m = sums(c); var i = 0; while (i < dim) { m(i) /= counts(c); i += 1 }; m }
      }
      it += 1
    }
    cents
  }

  // ---- Centroid kernel ------------------------------------------------
  //
  // Every integer k-means entry point in this object (flat Lloyd, its
  // stored-model serve and suff-stats, the two-level trainer and serve, the
  // label probe, the IVF centroid refresh) is a thin call into these pieces, so
  // all of them share one arithmetic, replayable bit-for-bit on any engine:
  //  - vectors quantize ONCE to integer micro (the q138 seam);
  //  - distances are exact integer squared-L2 (|q| ≤ ~2e6 over ≤ 1024
  //    dims keeps d² well inside int64);
  //  - argmin ties break on the LOWER cluster id (struct ordering);
  //  - centroids are truncating `div` of micro sums (Spark `div` / DuckDB
  //    `//`, toward zero — NOT floorDiv, micro sums can be negative; per-
  //    cluster sums stay exact to ~4.6e12 rows/cluster);
  //  - an EMPTY cluster keeps its previous centroid.

  /** One element in integer micro units (round half away from zero). */
  private def micro(x: Column): Column = round(x * lit(1000000.0)).cast("long")

  /** A numeric array column quantized element-wise to micro longs. */
  private def quantize(v: Column): Column = transform(v.cast("array<double>"), x => micro(x))

  /** Exact integer squared-L2 of two long arrays. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** The kernel's (id, qv) input frame: ids as long, vectors in micro. */
  private def points(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), quantize(col(vecCol)).as("qv"))

  /** Per-(keys…, dim) micro sums and counts of the `qv` vectors of
    * `rows`: (keys…, dim, s, n) — the MERGEABLE form of a centroid update
    * (stats of disjoint slices add), map-side combined, so keys·dim rows
    * cross the exchange. A centroid is `s div n`. */
  private def microSums(rows: DataFrame, qv: Column, keys: Column*): DataFrame = {
    val exploded = rows.select(keys :+ posexplode(qv).as(Seq("dim", "q")): _*)
    exploded.groupBy(exploded.columns.dropRight(1).map(col): _*)
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
  }

  /** Inline-expression k-tier boundary for [[argmin]]: past ~16
    * centroids the k·dim candidate expression tree outgrows whole-stage
    * codegen and the keyed-join plan wins. */
  private val MaxInlineCentroids = 16

  /**
   * Exact-integer nearest centroid of every row of a (…, qv) frame:
   * appends `__best` = struct(d2 micro², cluster), where centroid `i`
   * carries cluster id `ids(i)` (default `i`) and ties go to the lower
   * id. Two plans, ONE semantics:
   *
   *  - k ≤ [[MaxInlineCentroids]]: [[argminInline]] — the k candidate
   *    structs inline into a single codegen'd `least`; zero shuffle, zero
   *    extra rows (the q204 plan).
   *  - larger k (auto-k SemDeDup derives k ∝ n, so this tier is the
   *    100×-corpus path): [[argminJoin]] against the centroid matrix as a
   *    BROADCAST k-row table cross-joined into the scan.
   */
  private[pipeline] def argmin(
      base: DataFrame,
      cents: Array[Array[Long]],
      ids: Int => Int = identity): DataFrame =
    if (cents.length <= MaxInlineCentroids) argminInline(base, cents, ids)
    else {
      val sp = base.sparkSession
      import sp.implicits._
      val table = cents.indices.map(i => (ids(i), cents(i).toSeq)).toDF("cluster", "cv")
      val keys = base.columns.filter(_ != "qv").map(col)
      argminJoin(base, broadcast(table), Nil, "cluster")
        .select(keys :+ col("__m.qv").as("qv") :+
          struct(col("__m.d2").as("d2"), col("__m.cluster").as("cluster")).as("__best"): _*)
    }

  /** [[argmin]]'s inline tier, for any k. */
  private[pipeline] def argminInline(
      base: DataFrame,
      cents: Array[Array[Long]],
      ids: Int => Int = identity): DataFrame = {
    val scored = cents.indices.map { i =>
      struct(l2sq(col("qv"), typedlit(cents(i).toSeq)).as("d2"), lit(ids(i)).as("cluster"))
    }
    base.withColumn("__best",
      if (scored.length == 1) scored.head else least(scored: _*))
  }

  /**
   * The keyed-join argmin tier shared by the flat and fine levels: every
   * row of `base` (…, qv) meets its candidate centroids in ONE join — a
   * cross join when `on` is empty (the flat level's broadcast matrix), an
   * equi-join on `on` otherwise (the fine level's shard-keyed table) —
   * and the argmin is an exact `min(struct(d2, cl, qv))` aggregate per
   * input row. Partial aggregation collapses the candidates inside the
   * generating task, so the exchange carries one row per input row; n·k
   * candidate rows exist only transiently map-side. (d2, cl) is unique
   * within a row's candidate set, so the qv tail (carried to keep the
   * row's vector without a rejoin) never decides a comparison. Rows are
   * keyed by position, not by their other columns, so rows that share an
   * id stay apart as they do on the inline tier. Centroid table: (on…,
   * `cl`, cv). Output: the non-qv columns of `base` and `__m`.
   */
  private[pipeline] def argminJoin(
      base: DataFrame,
      cents: DataFrame,
      on: Seq[String],
      cl: String): DataFrame = {
    val keys = col("__row") +: base.columns.filter(_ != "qv").map(col)
    val rows = base.withColumn("__row", monotonically_increasing_id())
    val joined = if (on.isEmpty) rows.crossJoin(cents) else rows.join(cents, on)
    joined
      .select(keys :+ struct(l2sq(col("qv"), col("cv")).as("d2"), col(cl), col("qv"))
        .as("__cand"): _*)
      .groupBy(keys: _*)
      .agg(min(col("__cand")).as("__m"))
      .drop("__row")
  }

  /** Test hook: rows collected to the driver by the Lloyd trainers since
    * the last reset. Specs pin with it that [[kmeansTwoLevelAssign]]'s
    * driver state is bounded by the COARSE level alone — sublinear in the
    * total cluster count k, the property that keeps auto-k SemDeDup off
    * the driver-OOM path at 100×. Not part of any query plan. */
  private[pipeline] val driverCollectedRows =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The flat trainer's (id, qv) frame. On the keyed-join tier
    * (k > [[MaxInlineCentroids]] — the auto-k path, where each pass scores
    * k candidates per row) an unsplittable scan spreads across the cores
    * and the quantized vectors materialize ONCE, since iters+2 passes
    * (seeding, per-iteration stats, final assignment) each re-read this
    * frame — measured at sf0.1 as one ~1 s task per pass with the other
    * cores idle (ABAB: q208 4.97 → 3.65 s). The inline tier keeps the
    * bare scan: its argmin is a single codegen'd expression, and the
    * exchange + checkpoint cost more than they save there (measured,
    * same ABAB: q237 +0.2 s when applied unconditionally). */
  private def lloydInput(
      df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int): DataFrame = {
    Dedup.requireIntegralId(df, idCol, "kmeansLloydAssign")
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val heavyK = k > MaxInlineCentroids
    val src =
      if (heavyK) PlanStats.spreadScan(df, df.sparkSession.sparkContext.defaultParallelism)
      else df
    val base = points(src, idCol, vecCol)
    if (heavyK) base.localCheckpoint(eager = false) else base
  }

  /** (cluster, dim, s, n) of `base` assigned to `cents`. */
  private def flatStats(base: DataFrame, cents: Array[Array[Long]]): DataFrame =
    microSums(argmin(base, cents), col("qv"), col("__best.cluster").as("cluster"))

  /** (id, cluster, d2) of an [[argmin]] frame. */
  private def flatAssignment(best: DataFrame): DataFrame =
    best.select(col("id"), col("__best.cluster").as("cluster"), col("__best.d2").as("d2"))

  /** Flat integer Lloyd over a [[lloydInput]] frame: init is the k rows
    * with the smallest (md5(seed|id), id) — a corpus-derived, seedable
    * order, no RNG anywhere — then `iters` (assign, update) rounds. Each
    * round's only shuffle is the (cluster, dim) micro-sum aggregate, and
    * its only collect the k·dim centroid table itself. */
  private def lloyd(base: DataFrame, k: Int, iters: Int, seed: String): Array[Array[Long]] = {
    val seedRows = base
      .orderBy(md5(concat(lit(seed), lit("|"), col("id").cast("string"))),
        col("id"))
      .limit(k).collect()
    driverCollectedRows.addAndGet(seedRows.length)
    require(seedRows.length == k,
      s"kmeansLloydAssign: corpus has ${seedRows.length} rows < k=$k")
    val dim = seedRows.head.getSeq[Long](1).length
    var cents = seedRows.map(_.getSeq[Long](1).toArray)
    for (_ <- 1 to iters) {
      val parts = flatStats(base, cents).collect()
      driverCollectedRows.addAndGet(parts.length)
      // Clusters absent from `parts` (empty this round) keep their
      // previous centroid.
      val next = cents.map(_.clone())
      parts.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getLong(2) / r.getLong(3))
      cents = next
    }
    require(cents.forall(_.length == dim), "centroid dim drift")
    cents
  }

  /** [[kmeansLloydAssign]]'s trained centroid matrix, exposed for the
    * store-and-refresh lifecycle: k rows of `dim` micro longs, indexed by
    * cluster. Same training, same determinism. */
  def kmeansLloydCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      seed: String = "km"): Array[Array[Long]] =
    lloyd(lloydInput(df, idCol, vecCol, k, iters), k, iters, seed)

  /**
   * Distributed Lloyd k-means over the FULL corpus — the scale path beside
   * [[kmeansCentroids]]'s bounded driver-sample fit: when the corpus (not
   * just the model) must drive the centroids, assignment is a map-side
   * exact-integer argmin against a broadcast centroid matrix, each
   * iteration's only shuffle is the (cluster, dim) partial-sum aggregate
   * (map-side combined — k·dim rows cross the exchange), and the only
   * driver state is the k×dim centroid table (512 longs at k=8, dim=64 —
   * the bounded-collect convention). The corpus re-scans once per
   * iteration; cache the quantized projection upstream if scans dominate.
   * Arithmetic and init are the centroid kernel's (see [[lloyd]]).
   *
   * Runs `iters` (assign, update) rounds, then returns the assignment
   * against the FINAL centroids: (id, cluster, d2) with d2 in micro².
   */
  def kmeansLloydAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      seed: String = "km"): DataFrame = {
    val base = lloydInput(df, idCol, vecCol, k, iters)
    flatAssignment(argmin(base, lloyd(base, k, iters, seed)))
  }

  /**
   * Assignment against a STORED centroid model — the serve path of the
   * [[kmeansLloydAssign]] lifecycle: the k×dim integer centroid table
   * persists once at build time (the q200 stored-code convention), and
   * every later corpus pass is one map-side argmin against the broadcast
   * matrix — no training, no driver state beyond the model itself.
   * Deterministic integer arithmetic means stored == retrained, exactly.
   */
  def kmeansAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Long]]): DataFrame = {
    require(cents.nonEmpty, "need at least one centroid")
    flatAssignment(argmin(points(df, idCol, vecCol), cents))
  }

  /**
   * Sufficient statistics of a FROZEN centroid model over a corpus slice:
   * each row assigns to its nearest stored centroid (the exact integer
   * argmin of [[kmeansLloydAssign]]), and the output is the (cluster,
   * dim, s, n) micro-sum table — the MERGEABLE form of a centroid
   * update. Stats from disjoint slices ADD (plain sums), so a stored
   * model refreshes from daily batches without re-touching history:
   * union the stat tables, re-aggregate, divide — exactly equal to a
   * one-step refresh over the full corpus, which is the q225 gate.
   */
  def kmeansSuffStats(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Long]]): DataFrame = {
    require(cents.nonEmpty, "need at least one centroid")
    flatStats(points(df, idCol, vecCol), cents)
  }

  /** Centroid refresh from merged [[kmeansSuffStats]] tables: one
    * truncating div per (cluster, dim) — the periodic model update that
    * never re-reads history. */
  def kmeansRefreshCentroids(stats: DataFrame): DataFrame =
    stats.groupBy(col("cluster"), col("dim"))
      .agg(sum(col("s")).as("__s"), sum(col("n")).as("__n"))
      .select(col("cluster"), col("dim"), expr("__s div __n").as("c"))

  /** (id, qv, shard) of a coarse [[argmin]] frame. */
  private def shards(best: DataFrame): DataFrame =
    best.select(col("id"), col("qv"), col("__best.cluster").as("shard"))

  /** (shard, fcl, dim, s, n) of a fine argmin frame (id, shard, __m). */
  private def fineStats(m: DataFrame): DataFrame =
    microSums(m, col("__m.qv"), col("shard"), col("__m.fcl").as("fcl"))

  /** (id, cluster, d2) of a fine argmin frame: global cluster id
    * `shard · kFine + fcl`. */
  private def twoLevelAssignment(m: DataFrame, kFine: Int): DataFrame =
    m.select(col("id"),
      (col("shard") * kFine + col("__m.fcl")).cast("int").as("cluster"),
      col("__m.d2").as("d2"))

  /**
   * Two-level (coarse→fine) integer Lloyd — the trainer for cluster
   * counts that outgrow driver-resident centroids. Auto-k SemDeDup
   * derives k ∝ n; at a 100-TB corpus that is ~10⁸ centroids, and the
   * flat [[kmeansLloydAssign]] collects and re-broadcasts all k×dim of
   * them every iteration — a hard driver OOM long before the FLOPs bill
   * matters. This trainer is the standard hierarchical recipe instead:
   *
   *  1. COARSE: a flat integer Lloyd at `kCoarse` (≈ ⌈√k⌉) partitions
   *     the corpus into shards — the ONLY level whose centroids touch
   *     the driver (kCoarse×dim longs, sublinear in k).
   *  2. FINE: `kFine` centroids per shard, trained for `itersFine`
   *     rounds entirely DataFrame-resident — seeds rank per shard with
   *     a window over the shard partitioning, every argmin is the
   *     kernel's keyed-join tier joined on shard against the (shard,
   *     fcl, cv) centroid table ([[argminJoin]]), and centroid updates
   *     are the same micro-sum truncating-div as the flat level, landing
   *     back in a DataFrame, never on the driver.
   *
   * Global cluster id = `shard · kFine + fcl`. Same determinism contract
   * as the flat trainer — micro quantization, md5-seeded init (coarse
   * seeds salt `seed|c`, fine seeds `seed|f|`), ties to the lower
   * cluster id, truncating-div centroids, empty clusters keep their
   * previous centroid — so a DuckDB CTE replay agrees bit-for-bit (the
   * q237 gate). A boundary-straddling point may land in a different fine
   * cluster than flat Lloyd at k would give — the documented
   * hierarchical approximation, the same trade IVF makes.
   *
   * Scale shape per fine round: one shard-keyed join (centroid side is
   * k rows, shuffled by shard alongside the corpus's reused shard
   * partitioning), one n-row argmin exchange, one k·dim-row stat
   * exchange. Driver state: kCoarse×dim only.
   */
  def kmeansTwoLevelAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      kCoarse: Int,
      kFine: Int,
      itersCoarse: Int,
      itersFine: Int,
      seed: String = "km"): DataFrame = {
    val (base, cents, _) = twoLevelFit(df, idCol, vecCol, kCoarse, kFine,
      itersCoarse, itersFine, seed)
    twoLevelAssignment(argminJoin(base, cents, Seq("shard"), "fcl"), kFine)
  }

  /** Serve-side fine-argmin budget: collect the STORED fine table and
    * evaluate one primitive loop per row when the model holds at most
    * this many centroid elements (2²³ longs = 64 MB — comfortably
    * executor-resident), else keep the shard-keyed join plan (model
    * size never touches the driver). The join plan materializes one
    * candidate row per (vector, fine centroid), each carrying the
    * vector itself — measured at the 2M-vector auto-k decade
    * (kc=kf=177) to dominate serve wall time; the inline tier is the
    * same integer argmin as one map-side expression. TRAINING always
    * uses the join plan: the trainer's driver-state contract (bounded
    * by the coarse level, spec-pinned) must hold at any k. */
  private[pipeline] val FineInlineMaxElements = 1L << 23

  private final class FineModelKey(val ref: AnyRef, val kCoarse: Int) {
    override def hashCode: Int = System.identityHashCode(ref) * 31 + kCoarse
    override def equals(o: Any): Boolean = o match {
      case k: FineModelKey => (k.ref eq ref) && k.kCoarse == kCoarse
      case _ => false
    }
  }

  /** A stored fine table as the serve path sees it: its shape from ONE
    * aggregate — (rows, shard min/max, fcl min/max, dim min/max, distinct
    * shards), which both validates the table against a declared model
    * ([[storedModelArgmin]]) and decides the inline tier — and, when
    * admitted, the table collected and flattened per shard on first use.
    * The inline tier engages only when the table is non-empty, covers
    * shard ids EXACTLY {0..kCoarse−1} (kCoarse distinct ids all inside
    * [0, kCoarse) — the count alone is not enough: a malformed table with
    * kCoarse ids outside the range, which a direct [[fineArgminServe]]
    * caller can pass without the public entry points' validation, must
    * ride the join plan rather than throw at `byShard(sh)`), and holds at
    * most [[FineInlineMaxElements]] elements. */
  private final class StoredFine(cents: DataFrame, kCoarse: Int) {
    val shape: org.apache.spark.sql.Row = cents
      .agg(count(lit(1)), min(col("shard")), max(col("shard")),
        min(col("fcl")), max(col("fcl")),
        min(size(col("cv"))), max(size(col("cv"))), countDistinct(col("shard")))
      .head()

    lazy val inline: Option[(Array[Array[Long]], Array[Array[Int]], Int)] = {
      val nRows = shape.getLong(0)
      val dim = if (shape.isNullAt(6)) 0 else shape.getInt(6)
      val covered = nRows > 0 && shape.getLong(7) == kCoarse.toLong &&
        shape.getInt(1) >= 0 && shape.getInt(2) < kCoarse
      if (!covered || dim <= 0 || nRows * dim > FineInlineMaxElements) None
      else {
        val byShard = cents.select(col("shard"), col("fcl"), col("cv")).collect()
          .groupBy(_.getInt(0))
        val fines = Array.ofDim[Array[Long]](kCoarse)
        val fcls = Array.ofDim[Array[Int]](kCoarse)
        (0 until kCoarse).foreach { sh =>
          val sorted = byShard(sh).sortBy(_.getInt(1))
          fcls(sh) = sorted.map(_.getInt(1))
          val flat = new Array[Long](sorted.length * dim)
          sorted.zipWithIndex.foreach { case (r, i) =>
            val cv = r.getSeq[Long](2)
            var d = 0
            while (d < cv.length && d < dim) {
              flat(i * dim + d) = cv(d); d += 1
            }
          }
          fines(sh) = flat
        }
        Some((fines, fcls, dim))
      }
    }
  }

  /** Stored-model memo, keyed by the REFERENCE identity of the caller's
    * fine DataFrame (and kCoarse). A serve loop — q251's foreachBatch —
    * holds ONE frozen fine DataFrame across micro-batches, so the shape
    * aggregate and the ≤64 MB collect run once and every batch's
    * expression shares the same flattened arrays. Reference identity
    * (never structural plan equality) means a re-read of a refreshed model
    * is a new DataFrame → a fresh probe. LRU-bounded at 8 entries, each
    * ≤ [[FineInlineMaxElements]] longs by the gate that admits it. */
  private val storedFines =
    new java.util.LinkedHashMap[FineModelKey, StoredFine](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[FineModelKey, StoredFine]): Boolean = size() > 8
    }

  private def storedFine(cents: DataFrame, kCoarse: Int): StoredFine = {
    val key = new FineModelKey(cents, kCoarse)
    storedFines.synchronized(Option(storedFines.get(key))).getOrElse {
      val probed = new StoredFine(cents, kCoarse)
      storedFines.synchronized(storedFines.put(key, probed))
      probed
    }
  }

  /** The fine argmin for SERVE-time callers holding a stored model:
    * input (id, qv, shard), output (id, shard, __m struct(d2, fcl, qv)),
    * tiered by model size — the `nearest_fine_centroid_l2` expression
    * over the collected table when [[StoredFine]] admits it, else the
    * kernel's shard-keyed join ([[argminJoin]]), whose semantics are
    * per-row. `kCoarse` guards coverage (the fit-side patch guarantees
    * it; a partial or out-of-range table falls back to the join). */
  private[pipeline] def fineArgminServe(
      base: DataFrame, cents: DataFrame, kCoarse: Int): DataFrame =
    storedFine(cents, kCoarse).inline match {
      case Some((fines, fcls, dim)) =>
        base.select(col("id"), col("shard"),
          CentroidFunctions.nearest_fine_centroid_l2(
            col("shard"), col("qv"), fines, fcls, dim).as("__m"))
      case None => argminJoin(base, cents, Seq("shard"), "fcl")
    }

  /** Shared fit core of the two-level lifecycle: coarse flat Lloyd →
    * shard-partitioned corpus → DataFrame-resident fine Lloyd. Returns
    * (sharded corpus (id, qv, shard), fine centroids (shard, fcl, cv),
    * coarse centroid matrix). */
  private def twoLevelFit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      kCoarse: Int,
      kFine: Int,
      itersCoarse: Int,
      itersFine: Int,
      seed: String): (DataFrame, DataFrame, Array[Array[Long]]) = {
    Dedup.requireIntegralId(df, idCol, "kmeansTwoLevelAssign")
    require(kCoarse >= 1, s"kCoarse must be >= 1, got $kCoarse")
    require(kFine >= 1, s"kFine must be >= 1, got $kFine")
    require(itersCoarse >= 0, s"itersCoarse must be >= 0, got $itersCoarse")
    require(itersFine >= 0, s"itersFine must be >= 0, got $itersFine")
    require(kCoarse.toLong * kFine <= Int.MaxValue,
      s"kCoarse*kFine = ${kCoarse.toLong * kFine} overflows Int")
    val flat = lloydInput(df, idCol, vecCol, kCoarse, itersCoarse)
    val ccents = lloyd(flat, kCoarse, itersCoarse, seed + "|c")
    // The shard comes straight from the coarse argmin frame, which
    // already carries (id, qv): no corpus re-scan, no id-keyed rejoin.
    // Shard-partitioned once; every fine round's join and window reuse
    // this layout off the checkpoint instead of re-shuffling the corpus.
    val base = shards(argmin(flat, ccents))
      .repartition(col("shard"))
      .localCheckpoint(eager = false)
    // Fine seeds: per shard, the first kFine ids in (md5(seed|f|id), id)
    // order — the flat trainer's corpus-derived RNG-free rule, ranked
    // with a per-shard window (a local sort within each shard; never a
    // global order). A shard smaller than kFine seeds what it has.
    val ord = Window.partitionBy(col("shard"))
      .orderBy(md5(concat(lit(seed + "|f|"), col("id").cast("string"))),
        col("id"))
    var cents = base.withColumn("__rn", row_number().over(ord))
      .where(col("__rn") <= kFine)
      .select(col("shard"), (col("__rn") - 1).as("fcl"), col("qv").as("cv"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to itersFine) {
      val upd = fineStats(argminJoin(base, cents, Seq("shard"), "fcl"))
        .select(col("shard"), col("fcl"), col("dim"), expr("s div n").as("cnew"))
      // Empty fine clusters keep their previous centroid — overlay the
      // sparse update onto the dense stored table ([[overlayFine]]: one
      // union + one aggregate, no join).
      cents = overlayFine(cents, upd).localCheckpoint(eager = false)
    }
    (base, cents, ccents)
  }

  /**
   * Fit half of the two-level lifecycle: trains [[kmeansTwoLevelAssign]]'s
   * hierarchy and returns the STORABLE model — (coarse centroid matrix
   * kCoarse×dim, fine centroid DataFrame (shard, fcl, cv)). The coarse
   * matrix is the only driver-resident piece (O(√k·dim)); the fine table
   * persists as parquet and is never collected.
   *
   * A coarse shard that ends training EMPTY (no corpus row assigns to
   * it — possible since empty coarse clusters keep their seed centroid)
   * would leave serve-time vectors landing on it with no fine centroids
   * to argmin against; the model patches each such shard with a single
   * fine centroid equal to its coarse centroid (fcl 0 — the shard's best
   * available guess), so [[kmeansTwoLevelServe]] is total over any input.
   * The patch probe collects at most kCoarse shard ids — still sublinear
   * in k = kCoarse·kFine.
   */
  def kmeansTwoLevelModel(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      kCoarse: Int,
      kFine: Int,
      itersCoarse: Int,
      itersFine: Int,
      seed: String = "km"): (Array[Array[Long]], DataFrame) = {
    val (_, cents, ccents) = twoLevelFit(df, idCol, vecCol, kCoarse, kFine,
      itersCoarse, itersFine, seed)
    val present = cents.select(col("shard")).distinct().collect()
      .map(_.getInt(0)).toSet
    driverCollectedRows.addAndGet(present.size)
    val missing = (0 until kCoarse).filterNot(present)
    val patched =
      if (missing.isEmpty) cents
      else {
        val sp = cents.sparkSession
        import sp.implicits._
        cents.unionByName(missing.map(sh => (sh, 0, ccents(sh).toSeq))
          .toDF("shard", "fcl", "cv"))
      }
    (ccents, patched)
  }

  /**
   * Serve half of the two-level lifecycle: assigns any batch against a
   * STORED model — coarse argmin against the broadcast kCoarse-row
   * matrix (the [[kmeansAssign]] plan), then one fine argmin against the
   * stored (shard, fcl, cv) table ([[fineArgminServe]]). Zero training,
   * zero driver state beyond the coarse matrix and, when small enough,
   * the fine table; otherwise the fine table streams through the join,
   * so model size never bounds the driver. Deterministic integer
   * arithmetic pins stored == refit (the q242 gate replays fit+serve in
   * DuckDB and hash-matches).
   *
   * `kFine` is the model's declared fine fan-out — passed explicitly,
   * never inferred from the stored table (a truncated table would
   * silently re-derive a smaller id space — the q233/q234 stored-model
   * modulus hazard). A 1-row aggregate validates the stored table
   * against the declared shape before any scoring.
   */
  def kmeansTwoLevelServe(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Long]],
      fine: DataFrame,
      kFine: Int): DataFrame =
    twoLevelAssignment(
      storedModelArgmin(df, idCol, vecCol, coarse, fine, kFine, "kmeansTwoLevelServe"),
      kFine)

  /** The serve path over a STORED model shared by [[kmeansTwoLevelServe]]
    * and [[twoLevelSuffStats]]: shape validation, quantize, coarse argmin,
    * fine argmin. Output (id, shard, __m struct(d2, fcl, qv)). */
  private def storedModelArgmin(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Long]],
      fine: DataFrame,
      kFine: Int,
      caller: String): DataFrame = {
    Dedup.requireIntegralId(df, idCol, caller)
    require(coarse.nonEmpty, "need at least one coarse centroid")
    require(kFine >= 1, s"kFine must be >= 1, got $kFine")
    val dim = coarse.head.length
    require(coarse.forall(_.length == dim), "coarse centroid dim drift")
    // ONE driver row at any model size (memoized per stored frame, see
    // [[storedFines]]): stored-table bounds vs the declared model shape —
    // shard/fcl ranges, dim agreement, and full shard coverage (every
    // coarse shard must carry >= 1 fine centroid; the fit-side patch
    // guarantees it, a hand-truncated table fails — without it, rows of a
    // missing shard vanish in the fine join).
    val b = storedFine(fine, coarse.length).shape
    require(!b.isNullAt(1), "stored fine centroid table is empty")
    require(b.getInt(1) >= 0 && b.getInt(2) < coarse.length,
      s"stored fine table shard range [${b.getInt(1)}, ${b.getInt(2)}] " +
        s"outside coarse model of ${coarse.length} shards")
    require(b.getInt(3) >= 0 && b.getInt(4) < kFine,
      s"stored fine table fcl range [${b.getInt(3)}, ${b.getInt(4)}] " +
        s"outside declared kFine=$kFine")
    require(b.getInt(5) == dim && b.getInt(6) == dim,
      s"stored fine centroid dims [${b.getInt(5)}, ${b.getInt(6)}] != " +
        s"coarse dim $dim")
    require(b.getLong(7) == coarse.length,
      s"stored fine table covers ${b.getLong(7)} of ${coarse.length} " +
        "shards — truncated model")
    fineArgminServe(shards(argmin(points(df, idCol, vecCol), coarse)), fine,
      coarse.length)
  }

  /** Deterministic bounded FIT sample: the first `maxFitRows` corpus
    * ids in (md5(seed|s|id), id) order — the house corpus-derived
    * RNG-free rule ([[twoLevelFit]]'s fine-seed ranking, globalized).
    * `ORDER BY hash LIMIT n` plans as a distributed per-partition top-N
    * with only the winning (hash, id) rows merging on the driver-side
    * take, and the sampled ids rejoin the corpus by key (broadcast
    * while the id table is comfortably executor-resident); the corpus
    * is never globally sorted. A corpus at or under `maxFitRows` rows
    * samples to itself — the sampled fit then IS the full fit. */
  private[pipeline] def fitSample(
      df: DataFrame,
      idCol: String,
      maxFitRows: Long,
      seed: String): DataFrame = {
    require(maxFitRows >= 1 && maxFitRows <= Int.MaxValue,
      s"maxFitRows must be in [1, ${Int.MaxValue}], got $maxFitRows")
    val picked = df.select(col(idCol).cast("long").as("__sid"))
      .orderBy(md5(concat(lit(seed + "|s|"), col("__sid").cast("string"))),
        col("__sid"))
      .limit(maxFitRows.toInt)
    val keyed = if (maxFitRows <= (1L << 22)) broadcast(picked) else picked
    df.join(keyed, df(idCol).cast("long") === keyed("__sid")).drop("__sid")
  }

  /**
   * [[kmeansTwoLevelAssign]] with the FIT cost bounded by a deterministic
   * sample — the production answer to auto-k's n^1.5 training wall:
   * auto-k makes k ∝ n, so a full-corpus Lloyd pass costs n·k ∝ n^1.5
   * per iteration (measured 14.8 → 106.3 → 1544 s per data decade at
   * 2M vectors), while THIS fit touches at most `maxFitRows` vectors —
   * k·maxFitRows per iteration, √n-shaped when k grows with the served
   * corpus — and the full corpus only ever pays the serve-side argmin
   * ([[kmeansTwoLevelServe]], linear, size-tiered): same (id, cluster,
   * d2) contract. The sample is [[fitSample]]'s first `maxFitRows` ids in
   * (md5(seed|s|id), id) order: corpus-derived and RNG-free, so stored ==
   * refit stays replayable (the q254 gate replays sample, fit, and
   * full-corpus serve in SQL).
   */
  def kmeansTwoLevelAssignSampled(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      kCoarse: Int,
      kFine: Int,
      itersCoarse: Int,
      itersFine: Int,
      seed: String = "km",
      maxFitRows: Long): DataFrame = {
    val (coarse, fine) = kmeansTwoLevelModel(fitSample(df, idCol, maxFitRows, seed),
      idCol, vecCol, kCoarse, kFine, itersCoarse, itersFine, seed)
    kmeansTwoLevelServe(df, idCol, vecCol, coarse, fine, kFine)
  }

  /**
   * Sufficient statistics of a FROZEN two-level model over a corpus
   * slice — [[kmeansSuffStats]] generalized to the hierarchy: each row
   * assigns through the stored model ([[kmeansTwoLevelServe]]'s exact
   * coarse-then-fine argmin, after the same shape validation, so a
   * truncated model fails instead of dropping rows), and the output is
   * the (shard, fcl, dim, s, n) micro-sum table. Stats from disjoint
   * slices ADD (plain sums), so the fine table refreshes from daily
   * batches without re-touching history — union the stat tables, [[kmeansTwoLevelRefresh]], done;
   * exactly equal to a one-step refresh over the full corpus (the q243
   * gate). Driver state: the coarse matrix only; stats and centroids
   * stay DataFrame-resident at any k.
   */
  def twoLevelSuffStats(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Long]],
      fine: DataFrame,
      kFine: Int): DataFrame =
    fineStats(
      storedModelArgmin(df, idCol, vecCol, coarse, fine, kFine, "twoLevelSuffStats"))

  /** Fine-table refresh from merged [[twoLevelSuffStats]] tables: one
    * truncating div per (shard, fcl, dim); fine clusters absent from
    * the stats (no rows this period) keep their stored centroid —
    * the same empty-cluster rule as training. Caller-supplied stats
    * never reshape the model: a group with sum(n) = 0 counts as absent
    * (no division by zero), and a (shard, fcl) the stored table does not
    * hold is ignored (no new centroid row). Returns the refreshed
    * (shard, fcl, cv) table, ready to persist as the next model. */
  def kmeansTwoLevelRefresh(fine: DataFrame, stats: DataFrame): DataFrame =
    overlayFine(fine,
      stats.groupBy(col("shard"), col("fcl"), col("dim"))
        .agg(sum(col("s")).as("__s"), sum(col("n")).as("__n"))
        .where(col("__n") > 0)
        .join(fine.select(col("shard"), col("fcl")), Seq("shard", "fcl"), "left_semi")
        .select(col("shard"), col("fcl"), col("dim"), expr("__s div __n").as("cnew")))

  /** Overlay a SPARSE per-(shard, fcl, dim) update table (`cnew`) onto a
    * DENSE (shard, fcl, cv) centroid table and reassemble the cv arrays:
    * per dim the update value wins when present, else the stored value
    * stays — `coalesce(cnew, c)` semantics, computed as one union + one
    * aggregate instead of the previous explode → left-join → re-aggregate
    * chain (the join cost a broadcast-build job plus an extra exchange
    * per fine round; values are identical). Sort key (dim, priority) is
    * unique per group row, so the trailing `c` never decides an order;
    * each dim keeps its LAST (highest-priority) entry. */
  private def overlayFine(cents: DataFrame, upd: DataFrame): DataFrame =
    cents
      .select(col("shard"), col("fcl"),
        posexplode(col("cv")).as(Seq("dim", "c")))
      .select(col("shard"), col("fcl"), col("dim"), col("c"),
        lit(0).as("__pr"))
      .unionByName(upd.select(col("shard"), col("fcl"), col("dim"),
        col("cnew").as("c"), lit(1).as("__pr")))
      .groupBy(col("shard"), col("fcl"))
      .agg(array_sort(
        collect_list(struct(col("dim"), col("__pr"), col("c")))).as("__s"))
      .select(col("shard"), col("fcl"),
        transform(
          filter(col("__s"), (x, i) =>
            (i === size(col("__s")) - 1) ||
              (element_at(col("__s"), i + 2).getField("dim") =!=
                x.getField("dim"))),
          s => s.getField("c")).as("cv"))

  /**
   * Cluster-balanced coreset: the `m` most central rows per cluster from a
   * [[kmeansLloydAssign]] assignment — the curation step that keeps a
   * corpus's cluster STRUCTURE while cutting its volume (every cluster
   * contributes, no cluster dominates — the balance a plain global top-m
   * by centrality loses to the biggest cluster).
   *
   * Scale shape: a bounded-heap [[graft.functions.TopKFunctions
   * .topk_by_score]] aggregate, NOT a per-cluster window — partials
   * combine map-side, k·m entries cross the exchange, and no task ever
   * sorts a corpus-scale cluster. −d2 rides the heap as an exact double
   * (d² ≤ ~2.6e14 < 2^53), ties break on the lower id (the q166 rule).
   */
  def clusterCoreset(assign: DataFrame, m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    assign.groupBy(col("cluster"))
      .agg(graft.functions.TopKFunctions.topk_by_score(
        -col("d2").cast("double"), col("id"), m).as("__top"))
      .select(col("cluster"), posexplode(col("__top")).as(Seq("pos", "nb")))
      .select(col("cluster"), (col("pos") + 1).cast("int").as("rank"),
        col("nb.neighbor_id").as("id"))
  }

  /** IVF cell postings of `df` as (c_id, c_v, cell) rows. Multi-assignment
    * (`replicas` > 1) stores each vector in its `replicas` nearest cells —
    * the standard IVF remedy for cell-boundary recall loss: a neighbor
    * just across a cell border is still found without widening every
    * query's probe set. Storage and scan cost scale by `replicas`; the
    * probe aggregate dedups neighbors that meet a query in more than one
    * probed cell. */
  private def assignCells(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Double]],
      replicas: Int): DataFrame =
    df.select(col(idCol).as("c_id"), col(vecCol).as("c_v"))
      .withColumn("cell",
        if (replicas == 1) CentroidFunctions.nearest_centroid(col("c_v"), cents)
        else explode(CentroidFunctions.nearest_cells(col("c_v"), cents, replicas)))

  /** The IVF search tail: each query probes its `nprobe` nearest cells,
    * broadcast into the scan of the (c_id, c_v, cell) postings, and one
    * bounded-heap aggregate keeps the k most cosine-similar neighbors. */
  private def probeTopK(
      cells: DataFrame,
      cents: Array[Array[Double]],
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      distinctIds: Boolean): DataFrame = {
    val probes = queries
      .select(col(queryIdCol).as("query_id"), col(vecCol).as("q_v"))
      .withColumn("cell",
        explode(CentroidFunctions.nearest_cells(col("q_v"), cents, nprobe)))
    explodeTopK(cells.join(broadcast(probes), "cell")
      .filter(col("query_id") =!= col("c_id"))
      .groupBy("query_id")
      .agg(TopKFunctions.topk_by_score(
        cosine(col("q_v"), col("c_v")), col("c_id"), k,
        distinctIds = distinctIds).as("topk")))
  }

  /** A persisted index's centroid table, in cell order (nlist rows —
    * bounded by construction). */
  private def ivfCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)

  /**
   * IVF (inverted-file) approximate top-k: the corpus is bucketed by nearest
   * centroid via a map-side argmax expression over the (broadcast-sized)
   * centroid matrix — zero shuffle — and each query probes its `nprobe`
   * nearest cells. Probes are broadcast into the corpus scan, so the whole
   * search is map-side work plus one bounded-heap aggregate; no corpus-wide
   * shuffle anywhere in the plan.
   */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      replicas: Int = 1): DataFrame = {
    require(replicas >= 1 && replicas <= nlist, "replicas must be in [1, nlist]")
    val cents = kmeansCentroids(corpus, corpusIdCol, vecCol, nlist)
    probeTopK(assignCells(corpus, corpusIdCol, vecCol, cents, replicas), cents,
      queries, queryIdCol, vecCol, k, nprobe, distinctIds = replicas > 1)
  }

  /**
   * Persist an IVF index: the centroid table (`cell, centroid`) and the
   * cell-assigned corpus (`cell, c_id, c_v`, multi-assigned under
   * `replicas`) written as parquet under `path`. Built ONCE per corpus
   * snapshot; every later query batch pays only its own probe join — the
   * build/query split any serving-adjacent ANN deployment runs (the
   * one-shot [[ivfTopK]] refits per call). Deterministic by construction
   * (same fit as ivfTopK), so index rebuilds are reproducible.
   */
  def buildIvfIndex(
      corpus: DataFrame,
      corpusIdCol: String,
      vecCol: String,
      path: String,
      nlist: Int = 16,
      replicas: Int = 1): Unit = {
    require(replicas >= 1 && replicas <= nlist, "replicas must be in [1, nlist]")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = kmeansCentroids(corpus, corpusIdCol, vecCol, nlist)
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    assignCells(corpus, corpusIdCol, vecCol, cents, replicas)
      .write.mode("overwrite").parquet(s"$path/cells")
  }

  /**
   * Top-k cosine neighbors from a PERSISTED [[buildIvfIndex]] index: load
   * the (tiny, nlist-row) centroid table to the driver, probe the stored
   * cell assignments — the corpus is never re-embedded, re-fit, or
   * re-assigned. Same probe/rerank shape and semantics as [[ivfTopK]].
   */
  def ivfTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4,
      distinctIds: Boolean = true): DataFrame =
    probeTopK(spark.read.parquet(s"$path/cells"), ivfCentroids(spark, path),
      queries, queryIdCol, vecCol, k, nprobe, distinctIds)

  /**
   * Delete + compaction for a persisted [[buildIvfIndex]] index — the
   * inverted-index takedown lifecycle (q160) on the vector side: the
   * retired ids leave via ONE anti-join over the stored cell postings,
   * rewritten as a NEW self-contained generation under `dstPath`
   * (by default centroids carry over unchanged — the model is frozen,
   * only postings compact away; `refreshCentroids = true` additionally
   * recenters each cell on its surviving members, see inline note),
   * so [[ivfTopKFromIndex]] serves the new generation
   * while the old one stays readable until swapped. A curation loop that
   * DROPS documents pays one compact-key anti-join, never a re-fit or a
   * corpus re-assignment.
   */
  def compactIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      deleteIds: DataFrame,
      idCol: String,
      refreshCentroids: Boolean = false): Unit = {
    require(srcPath != dstPath,
      "compaction writes a NEW generation; srcPath must differ from dstPath")
    Dedup.requireIntegralId(deleteIds, idCol, "compactIvfIndex")
    spark.read.parquet(s"$srcPath/cells")
      .join(deleteIds.select(col(idCol).cast("long").as("c_id")).distinct(),
        Seq("c_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$dstPath/cells")
    if (!refreshCentroids) {
      spark.read.parquet(s"$srcPath/centroids")
        .repartition(1).write.mode("overwrite").parquet(s"$dstPath/centroids")
    } else {
      // Post-takedown centroid REFRESH (q225's store-and-refresh
      // composed with the generation swap): after mass deletion the
      // frozen centroids drift off the surviving distribution, so the
      // new generation recenters each cell on the MEAN of its surviving
      // posting vectors — the centroid kernel's micro sums with a
      // truncating div (engine-deterministic, so the q256 oracle replays
      // it), cells emptied by the takedown keeping their previous
      // centroid (the empty-cluster carry rule). Postings are NOT
      // reassigned — cell membership is the stored history; only the
      // routing table moves, and later [[updateIvfIndex]] ingests and
      // [[ivfTopKFromIndex]] probes assign through the refreshed
      // centroids. One aggregate over the surviving postings; the
      // centroid table stays nlist rows.
      val stats = microSums(spark.read.parquet(s"$dstPath/cells"),
          quantize(col("c_v")), col("cell"))
        .select(col("cell"), col("dim"), expr("s div n").as("cm"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("cm")))),
          s => s.getField("cm").cast("double") / lit(1000000.0)).as("rcv"))
      spark.read.parquet(s"$srcPath/centroids")
        .join(stats, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("rcv"), col("centroid")).as("centroid"))
        .repartition(1).write.mode("overwrite").parquet(s"$dstPath/centroids")
    }
  }

  /**
   * Ingest a fresh batch into a persisted [[buildIvfIndex]] index through
   * the STORED centroids — zero refit: batch vectors assign to their
   * `replicas` nearest stored cells (the same map-side argmin the build
   * ran) and APPEND to the cell postings. Batch ≪ corpus is the
   * contract: the ingest pays only its own assignment scan; with
   * [[compactIvfIndex]] this closes the index's delete/refresh lifecycle
   * without ever re-reading the corpus.
   */
  def updateIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      replicas: Int = 1): Unit = {
    val cents = ivfCentroids(spark, path)
    require(replicas >= 1 && replicas <= cents.length,
      s"replicas must be in [1, ${cents.length}], got $replicas")
    assignCells(batch, idCol, vecCol, cents, replicas)
      .write.mode("append").parquet(s"$path/cells")
  }

  /**
   * Corpus clustering: every vector assigned to its nearest k-means
   * centroid (cosine). The same bounded deterministic centroid fit as IVF
   * (id-ordered sample, strided seeding, Lloyd); assignment is then a
   * ZERO-SHUFFLE map-side argmax over the broadcast-sized centroid matrix —
   * the way a 100 TB corpus gets topic/domain buckets for mixture analysis
   * without a single wide stage. Output: (vec_id, cluster).
   */
  def clusterAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iters: Int = 10): DataFrame = {
    val cents = kmeansCentroids(df, idCol, vecCol, nlist, iters = iters)
    df.select(col(idCol).as("vec_id"),
      CentroidFunctions.nearest_centroid(col(vecCol), cents).as("cluster"))
  }

  /**
   * Symmetric int8 quantization of an embedding: `scale = max|v| / 127`,
   * `q_i = round(v_i / scale)` — 4× smaller than float32, which is the
   * difference between an ANN index that fits executor memory at 100 TB
   * and one that doesn't (rerank the shortlist against the float originals
   * to recover exactness). Pure per-element map-side arithmetic — float→
   * double widening is exact and round-half-away-from-zero is the SQL
   * standard, so the quantized vectors are bit-reproducible on any engine.
   * Zero vectors quantize to zeros with scale 0. Returns
   * `struct<scale: double, q: array<int>>`.
   */
  def quantizeInt8(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val scale = array_max(transform(v, x => abs(x))) / lit(127.0)
    val q = when(scale === 0.0,
        transform(v, _ => lit(0)))
      .otherwise(transform(v, x => round(x / scale).cast("int")))
    struct(scale.as("scale"), q.as("q"))
  }

  /** Inverse of [[quantizeInt8]]: `q_i * scale`, lossy by design. */
  def dequantizeInt8(quantized: Column): Column =
    transform(quantized.getField("q"),
      x => x.cast("double") * quantized.getField("scale"))

  /**
   * Embedding hygiene verdict per vector — the data-quality gate an ANN
   * index build runs FIRST (one NaN poisons every distance it touches;
   * a zero vector makes cosine undefined; a wrong-dim vector crashes a
   * fused kernel at the worst possible time). First matching rule wins,
   * checked in severity order: `null_vector`, `wrong_dim`,
   * `null_element`, `nan`, `inf`, `zero_norm`, `ok`. Pure map-side
   * column arithmetic (exists/forall over the array — no UDF, no
   * shuffle); every rule is exact (NaN/±Inf equality semantics, no
   * float tolerance), so any engine replays the verdicts bit-for-bit.
   */
  def embeddingHygieneFlags(
      df: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"))
      .withColumn("verdict",
        when(col("__v").isNull, "null_vector")
          .when(size(col("__v")) =!= dim, "wrong_dim")
          .when(exists(col("__v"), x => x.isNull), "null_element")
          .when(exists(col("__v"), x => isnan(x)), "nan")
          .when(exists(col("__v"), x =>
            x === lit(Float.PositiveInfinity) ||
              x === lit(Float.NegativeInfinity)), "inf")
          .when(forall(col("__v"), x => x === lit(0f)), "zero_norm")
          .otherwise("ok"))
      .select(col("id"), col("verdict"))
  }

  /**
   * Two-stage ANN serving: coarse top-(k·expand) by INT8 dot product,
   * exact float-cosine re-rank of only those candidates — the
   * memory-lean retrieval shape ([[quantizeInt8]]'s 4× smaller codes do
   * the bulk scoring; full-precision vectors are touched for k·expand
   * rows per query, not the corpus). The coarse score is exact integer
   * arithmetic (|q|≤127 ⇒ a 4096-dim dot fits int64 with room), so the
   * candidate cut is deterministic and engine-replayable; both stages
   * break ties by id ascending. Approximate BY DESIGN: a true neighbor
   * whose quantized dot falls outside the expanded cut is lost — raise
   * `expand` to trade memory traffic for recall.
   *
   * Scale shape: queries broadcast with their codes; the corpus
   * quantizes map-side in the same scan that scores it (codes are never
   * materialized corpus-wide); per-task k·expand heaps feed the
   * aggregate, then only candidate ids join back for full-precision
   * vectors.
   */
  def quantizedRerankTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      vecCol: String,
      k: Int,
      expand: Int = 4): DataFrame =
    quantizedRerankTopKFromCodes(queries,
      corpus.select(col(corpusIdCol).as("neighbor_id"),
        quantizeInt8(col(vecCol)).getField("q").as("cq")),
      corpus, queryIdCol, corpusIdCol, vecCol, k, expand)

  /**
   * The serve-side half of [[quantizedRerankTopK]]: coarse scoring runs
   * against a PRECOMPUTED (neighbor_id, cq) int8 code table — the
   * stored-artifact lifecycle (quantize the corpus once at build time,
   * store the 4×-smaller codes, serve every query from them; only the
   * re-rank touches full-precision vectors, k·expand rows per query).
   * Deterministic quantization means a stored code table can never
   * drift from a recompute — gate-pinned.
   */
  def quantizedRerankTopKFromCodes(
      queries: DataFrame,
      corpusCodes: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      vecCol: String,
      k: Int,
      expand: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(expand >= 1, s"expand must be >= 1, got $expand")
    val q = broadcast(queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("qv"),
      quantizeInt8(col(vecCol)).getField("q").as("qq")))
    val c = corpusCodes.select(col("neighbor_id"), col("cq"))
    val coarse = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("__qdot",
        aggregate(zip_with(col("qq"), col("cq"),
            (a, b) => a.cast("long") * b.cast("long")),
          lit(0L), (acc, v) => acc + v))
    rerankCoarseHeap(coarse, col("__qdot").cast("double"), col("neighbor_id"),
      queries, corpus, queryIdCol, corpusIdCol, vecCol, k, expand)
  }

  /**
   * The exact second stage of the two-stage ANN serves: keep each query's
   * top-(k·expand) candidates by the coarse `score` (ties to the lower
   * `neighbor`), join back the corpus and query vectors of only those,
   * and re-rank by float cosine DESC, neighbor_id ASC, keeping k per query.
   * `scored` has one row per (query_id, candidate) pair.
   */
  private def rerankCoarseHeap(
      scored: DataFrame,
      score: Column,
      neighbor: Column,
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      vecCol: String,
      k: Int,
      expand: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(TopKFunctions.topk_by_score(score, neighbor, k * expand).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("nb"))
      .select(col("query_id"), col("nb.neighbor_id").as("neighbor_id"))
      .join(corpus.select(col(corpusIdCol).as("neighbor_id"),
        col(vecCol).as("cv")), "neighbor_id")
      .join(broadcast(queries.select(col(queryIdCol).as("query_id"),
        col(vecCol).as("qv"))), "query_id")
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(desc("sim"), asc("neighbor_id"))).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))

  /**
   * Feature-hashing document embedding (the "hashing trick"): each token
   * lands in bucket `md5₃₂(token) mod dim` with sign ± from the digest's
   * next hex digit; the embedding is the signed bucket count vector
   * (`array<long>`). Model-free, vocabulary-free, integer-exact — the
   * cheap dense representation that lets the ANN/near-dup machinery run on
   * corpora with no trained embedder, at one map pass per document (the
   * per-token fold is `aggregate` over the token array — NO explode, no
   * shuffle; O(tokens × dim) integer adds per doc). md5-derived buckets,
   * not xxhash, so any SQL engine replays every element exactly.
   */
  def hashEmbed(text: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val toks = graft.pipeline.TextAnalysis.tokens(text)
    // Hash once per TOKEN, in a separate materialized array stage: an
    // expression referenced inside the fold's `transform` lambda would
    // re-evaluate per (token, j) — dim×2 md5 calls per token (measured
    // 6× slower on the whole query at sf0.1) instead of one. One 10-nibble
    // slice carries both derived values: hex chars 1..8 (the bucket
    // source) are bits 8.. of the slice, and hex char 9 (the sign nibble)
    // is bits 4..8 — so b = (h >> 8) % dim and sign parity = (h >> 4) & 1,
    // bit-identical to the conv(substring(...)) forms the oracle replays.
    val hashes = transform(toks,
      t => graft.functions.TextHashFunctions.md5_hex_slice_long(t, 1, 10))
    aggregate(
      hashes,
      array_repeat(lit(0L), dim),
      (acc, h) => transform(acc, (v, j) =>
        when(j === (shiftright(h, 8) % dim).cast("int"),
          v + when(shiftright(h, 4).bitwiseAND(lit(1L)) === 0, lit(1L))
            .otherwise(lit(-1L)))
          .otherwise(v)))
  }

  /**
   * Exact all-pairs cosine ≥ threshold (for oracle-checkable small inputs or
   * within-block verification). Quadratic; block before calling at scale.
   */
  def bruteForceNearPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // The stream side drives nested-loop-join parallelism; a small corpus
    // read as one parquet partition would otherwise score every pair on a
    // single task.
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    base.repartition(parts).as("l").join(base.as("r"), col("l.id") < col("r.id"))
      .withColumn("sim", cosine(col("l.v"), col("r.v")))
      .filter(col("sim") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("sim"))
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup", 2023):
   * rows whose embeddings are near-duplicates (cosine ≥ `threshold`)
   * collapse to one representative — the minimum id of each connected
   * component of the near-pair graph — and everything else passes through
   * untouched (singletons never enter the component join).
   *
   * Composed entirely from the audited scale paths: pair generation is
   * sign-LSH ([[lshNearPairs]] — candidates only from matching sketch
   * buckets, exact cosine verify, recall solved from `recallTarget`);
   * clustering is [[Dedup.connectedComponents]] (O(log n)
   * large-star/small-star rounds moving (node, 8-byte min) rows); the
   * final keep is one anti-join on the loser id set. No stage touches the
   * full n² pair space or collects anything driver-side.
   */
  def semanticDupRepresentatives(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      nHint: Long = 0L): DataFrame = {
    val pairs = lshNearPairs(df, idCol, vecCol, dim, threshold, nHint = nHint)
      .select("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val losers = comps.filter(col("id") =!= col("component")).select(col("id"))
    df.join(losers, df(idCol).cast("long") === losers("id"), "left_anti")
  }

  /**
   * Auto-k for [[semDeDupWithinClusters]] — the [[Dedup.minHashParams]]
   * convention applied to the paper's own protocol (SemDeDup grows the
   * cluster count with the corpus): k = ⌈n / targetClusterSize⌉, so the
   * within-cluster pair stage stays Σ nc² ≈ n·targetClusterSize — LINEAR
   * in n at fixed target size, never the quadratic a fixed k decays to.
   * If even the balanced pair volume (n·targetClusterSize/2) would blow
   * past `maxPairBudget`, this REFUSES loudly instead of silently
   * burning a cluster on pair scoring — shrink targetClusterSize (finer
   * clusters, paper-sanctioned) or consciously raise the budget.
   */
  def semDeDupParams(
      n: Long,
      targetClusterSize: Int = 64,
      maxPairBudget: Long = 100000000000L): Int = {
    require(n >= 1, s"corpus count must be >= 1, got $n")
    require(targetClusterSize >= 2,
      s"targetClusterSize must be >= 2, got $targetClusterSize")
    require(maxPairBudget >= 1, s"maxPairBudget must be >= 1, got $maxPairBudget")
    // BigInt: n·targetClusterSize can overflow long exactly where the
    // refusal matters most.
    val expectedPairs = BigInt(n) * (targetClusterSize.toLong / 2 max 1L)
    require(expectedPairs <= BigInt(maxPairBudget),
      s"auto-sized SemDeDup at targetClusterSize=$targetClusterSize over " +
        s"~$n docs scores ~$expectedPairs within-cluster pairs — past " +
        s"maxPairBudget=$maxPairBudget. Shrink targetClusterSize or raise " +
        "the budget to accept the cost explicitly.")
    val k = (n + targetClusterSize - 1) / targetClusterSize
    require(k <= Int.MaxValue, s"derived k=$k overflows Int")
    math.max(1L, k).toInt
  }

  /** [[semDeDupParams]] constrained to a bounded FIT budget: grows
    * targetClusterSize just enough that auto-k stays seedable inside a
    * `maxFitRows` sample (effective target = max(target, ⌈n/maxFitRows⌉),
    * so k = ⌈n/target⌉ ≤ maxFitRows) — the "targetClusterSize must grow
    * with n/maxFitRows" lever from [[clusterAssignForDedup]]'s refusal,
    * computed instead of hand-tuned. The pair-budget refusal reruns at
    * the EFFECTIVE target: bigger clusters mean more within-cluster
    * pairs, and that cost must stay explicit — a corpus big enough to
    * push the effective target past the budget still refuses loudly
    * rather than silently quadratically exploding the pair stage.
    * Returns (k, effectiveTargetClusterSize). */
  def semDeDupParamsBounded(
      n: Long,
      maxFitRows: Long,
      targetClusterSize: Int = 64,
      maxPairBudget: Long = 100000000000L): (Int, Int) = {
    require(maxFitRows >= 2, s"maxFitRows must be >= 2, got $maxFitRows")
    val grown = (n + maxFitRows - 1) / maxFitRows
    require(grown <= Int.MaxValue,
      s"effective targetClusterSize $grown overflows Int")
    val eff = math.max(targetClusterSize.toLong, grown).toInt
    (semDeDupParams(n, eff, maxPairBudget), eff)
  }

  /** Trainer routing shared by [[semDeDupWithinClusters]] and the manual
    * pair-volume scaling probe: flat integer Lloyd while k fits
    * driver-resident centroids, the two-level hierarchy (kCoarse ≈ ⌈√k⌉
    * coarse shards, ⌈k/kCoarse⌉ fine per shard) past `flatKMax` so
    * driver state stays O(√k·dim) — auto-k makes k ∝ n, and a flat
    * Lloyd's k×dim per-iteration collect is a driver OOM at a 100-TB
    * corpus long before the arithmetic hurts. */
  private[pipeline] def clusterAssignForDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      seed: String,
      flatKMax: Int,
      maxFitRows: Long = 0L): DataFrame = {
    val kc = math.ceil(math.sqrt(k.toDouble)).toInt
    val kf = (k + kc - 1) / kc
    if (maxFitRows > 0L) {
      // Bounded-cost fit: training must be able to SEED k clusters from
      // the sample — past that the caller is asking for more clusters
      // than fit rows, which only grows targetClusterSize can fix (the
      // honest lever: target ∝ n/maxFitRows keeps k inside the sample
      // as the served corpus outgrows the fit budget). The flat tier
      // trains Lloyd on the [[fitSample]] slice and the corpus assigns
      // through the resulting matrix (map-side, zero shuffle).
      require(k <= maxFitRows,
        s"sampled fit asked for k=$k clusters from a $maxFitRows-row fit " +
          "sample — raise maxFitRows or grow targetClusterSize (k ∝ " +
          "n/targetClusterSize; a bounded fit budget needs the target to " +
          "grow with the corpus).")
      if (k <= flatKMax)
        kmeansAssign(df, idCol, vecCol, kmeansLloydCentroids(
          fitSample(df, idCol, maxFitRows, seed), idCol, vecCol, k, iters, seed))
      else
        kmeansTwoLevelAssignSampled(df, idCol, vecCol, kc, kf, iters, iters,
          seed, maxFitRows)
    } else if (k <= flatKMax) {
      kmeansLloydAssign(df, idCol, vecCol, k, iters, seed)
    } else {
      kmeansTwoLevelAssign(df, idCol, vecCol, kc, kf, iters, iters, seed)
    }
  }

  /**
   * SemDeDup as the PAPER partitions it (Abbas et al. 2023): k-means
   * clusters bound the pair search — near-duplicate pairs (cosine ≥
   * `threshold`) are sought only WITHIN each [[kmeansLloydAssign]]
   * cluster, components collapse to their min id, everything else passes
   * through. The alternative scale path beside [[semanticDupRepresentatives]]'s
   * sign-LSH: clustering costs iters linear passes and the pair stage
   * drops from n² to Σ n_c² (k-fold on balanced clusters), in exchange
   * for the paper's documented approximation — a near-pair STRADDLING a
   * cluster boundary is missed by design, where LSH misses with solved
   * probability instead. Pick LSH when recall is contractual, clusters
   * when the corpus is already clustered for curation anyway (q204/q205).
   *
   * Scale shape: one cluster-keyed self-join (the quadratic bound), exact
   * cosine on the joined pair only, then the audited O(log n) component
   * rounds and one anti-join. `k = 0` (the default) DERIVES the cluster
   * count from the corpus via [[semDeDupParams]] — k = ⌈n/targetClusterSize⌉,
   * the paper's own grow-k-with-n protocol — so the pair stage stays
   * linear in n at a fixed target size; and whatever k is used, a
   * bounded probe of the REALIZED cluster sizes refuses loudly before
   * the join if skew pushes Σ nc(nc−1)/2 past `maxPairBudget`. Past
   * ~16 derived clusters the argmin switches to the broadcast-matrix
   * aggregate plan automatically (see `argmin`).
   */
  def semDeDupWithinClusters(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 0,
      iters: Int = 3,
      threshold: Double,
      seed: String = "km",
      targetClusterSize: Int = 64,
      maxPairBudget: Long = 100000000000L,
      nHint: Long = 0L,
      flatKMax: Int = 2048,
      maxFitRows: Long = 0L): DataFrame = {
    // k = 0 derives the cluster count from the corpus (the house rule:
    // scale knobs come from the data, with a loud refusal past budget,
    // never from a scaladoc note). The count is exact — the k curve has
    // no flat region an estimate could ride (cf. resolveBandingCount);
    // on parquet it is metadata-cheap, on derived frames pass nHint.
    // maxFitRows > 0 bounds the TRAINING scan to a deterministic sample
    // (the auto-k n^1.5 fit wall — see [[kmeansTwoLevelAssignSampled]]);
    // the pair stage below is unchanged, serving the full corpus.
    val kEff =
      if (k > 0) k
      else semDeDupParams(if (nHint > 0) nHint else df.count(),
        targetClusterSize, maxPairBudget)
    // Lazy localCheckpoint: the assignment feeds BOTH the realized
    // pair-volume probe and the pair join — one argmin pass, not two.
    val assign = clusterAssignForDedup(df, idCol, vecCol, kEff, iters,
        seed, flatKMax, maxFitRows)
      .select(col("id"), col("cluster"))
      .localCheckpoint(false)
    val losers = semDeDupLosers(df, idCol, vecCol, assign, threshold,
      maxPairBudget)
    df.join(losers, df(idCol).cast("long") === losers("id"), "left_anti")
  }

  /** Within-cluster SemDeDup tail shared by the batch trainer path and
    * the stored-model index builder: realized-skew probe + refusal,
    * within-cluster cosine pairs, component collapse — returns the LOSER
    * ids (every paired id except its component's min). `assign` must be
    * (id, cluster) and already checkpointed by the caller (it feeds both
    * the probe and the pair join). */
  private def semDeDupLosers(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      assign: DataFrame,
      threshold: Double,
      maxPairBudget: Long): DataFrame = {
    // Realized-skew guard (ONE driver row at any k): derived k keeps
    // the BALANCED volume linear, but Lloyd can still hand one cluster
    // most of the corpus — refuse before the join materializes nc² rows.
    // The Σ nc(nc−1)/2 reduction happens distributed; only the single
    // sum crosses to the driver, so the probe never scales with auto-k.
    val pairVol = assign.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)))
      .head().getLong(0)
    require(pairVol <= maxPairBudget,
      s"SemDeDup cluster assignment yields $pairVol within-cluster pairs " +
        s"(skewed clusters) — past maxPairBudget=$maxPairBudget. Raise k / " +
        "shrink targetClusterSize, or raise the budget explicitly.")
    val vecs = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .join(assign, "id")
    // Self-join through ONE aliased frame: the previous two
    // differently-renamed projections made the sides non-canonical, so the
    // (scan + assign-join) subtree materialized twice — two broadcast
    // builds per run; identical children let exchange reuse dedup them.
    val pairs = vecs.as("a").join(vecs.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .where(cosine(col("a.v"), col("b.v")) >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    Dedup.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("component")).select(col("id"))
  }

  /**
   * The persistable SemDeDup INDEX — the missing incremental lifecycle
   * half (every other dedup family member has one: exact q74, MinHash
   * q103, components q171). The corpus assigns through a FROZEN stored
   * two-level model ([[kmeansTwoLevelServe]]'s exact integer argmin —
   * never re-training), dedups within clusters (the established
   * pair/component/survivor tail, skew-probed), and the SURVIVORS are
   * returned as (cluster, id, v) rows — written once per corpus
   * snapshot, probed by every later ingest batch via
   * [[semDeDupPairsAgainstIndex]]. At 100 TB this is the difference
   * between a nightly job that re-clusters the corpus per batch and one
   * that pays only the batch's own argmin + a cluster-keyed join.
   */
  def semDeDupIndexFromModel(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Long]],
      fine: DataFrame,
      kFine: Int,
      threshold: Double,
      maxPairBudget: Long = 100000000000L): DataFrame = {
    // Lazy localCheckpoint: the serve assignment feeds both the skew
    // probe and the pair join — one argmin pass, not two.
    val assign = kmeansTwoLevelServe(df, idCol, vecCol, coarse, fine, kFine)
      .select(col("id"), col("cluster"))
      .localCheckpoint(false)
    val losers = semDeDupLosers(df, idCol, vecCol, assign, threshold,
      maxPairBudget)
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .join(assign, "id")
      .join(losers, Seq("id"), "left_anti")
      .select(col("cluster"), col("id"), col("v"))
  }

  /**
   * Incremental SemDeDup: a fresh ingest batch probed against a STORED
   * [[semDeDupIndexFromModel]] index — the q103 persisted-index
   * convention applied to the semantic path. The batch assigns through
   * the same frozen two-level model (one broadcast coarse argmin + one
   * shard-keyed fine argmin — zero training), joins its cluster's stored
   * representatives, and emits (batch_id, index_id) for every cosine ≥
   * `threshold` — the batch documents to DROP (or link) before appending
   * to the corpus. Batch ≪ corpus is the contract: candidate volume is
   * the batch's cluster occupancy, never corpus × corpus (that regime is
   * [[semDeDupWithinClusters]]); AQE broadcasts the batch side of the
   * cluster join. Within-batch duplicates are a separate concern — run
   * the batch path on the batch for those.
   */
  def semDeDupPairsAgainstIndex(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Long]],
      fine: DataFrame,
      kFine: Int,
      index: DataFrame,
      threshold: Double): DataFrame = {
    val assign = kmeansTwoLevelServe(batch, idCol, vecCol, coarse, fine,
        kFine)
      .select(col("id").as("batch_id"), col("cluster"))
    val bv = batch.select(col(idCol).cast("long").as("batch_id"),
      col(vecCol).cast("array<double>").as("bv"))
    assign.join(bv, "batch_id")
      .join(index.select(col("cluster"), col("id").as("index_id"),
        col("v").as("iv")), Seq("cluster"))
      .where(cosine(col("bv"), col("iv")) >= threshold)
      .select(col("batch_id"), col("index_id"))
  }

  /**
   * One FRONTIER-dedup ingest step — [[semDeDupPairsAgainstIndex]] plus
   * the admission the real gate needs: returns BOTH the drop decisions
   * (batch_id, index_id) and the batch's ADMITTED rows in index shape
   * (cluster, id, v) — the zero-hit rows that should append to the
   * stored index so LATER batches dedup against them, not just against
   * the day-one corpus. Admission is batch-atomic: every no-hit row
   * enters, and batch-mates never pair with each other (ingest at a
   * finer batch grain when that matters — the within-batch regime is
   * [[semDeDupWithinClusters]]). One serve argmin feeds both outputs
   * (the assignment is lazily checkpointed), and the pair table is
   * checkpointed too, so a caller that acts on `pairs` first can append
   * `admitted` to the index path the pairs were computed FROM without
   * re-scanning it mid-append. Sequential replay is the oracle
   * convention (q255): batch k's answer depends on batches 1..k−1's
   * admissions, exactly like the q74/q171 incremental ledgers.
   */
  def semDeDupAdmitBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Long]],
      fine: DataFrame,
      kFine: Int,
      index: DataFrame,
      threshold: Double): (DataFrame, DataFrame) = {
    val assign = kmeansTwoLevelServe(batch, idCol, vecCol, coarse, fine,
        kFine)
      .select(col("id"), col("cluster"))
      .localCheckpoint(false)
    val bv = batch.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val pairs = assign.join(bv, "id")
      .join(index.select(col("cluster"), col("id").as("index_id"),
        col("v").as("iv")), Seq("cluster"))
      .where(cosine(col("v"), col("iv")) >= threshold)
      .select(col("id").as("batch_id"), col("index_id"))
      .localCheckpoint(false)
    val admitted = assign.join(bv, "id")
      .join(pairs.select(col("batch_id").as("id")).distinct(),
        Seq("id"), "left_anti")
      .select(col("cluster"), col("id"), col("v"))
    (pairs, admitted)
  }

  /**
   * Prototypicality ranking — the SemDeDup-family PRUNING signal: how
   * far each embedding sits from its group's centroid, as an exact
   * integer L1 distance in micro units plus an integer-permille
   * percentile within the group (1000 = the group's most atypical
   * vector). Curation keeps the atypical tail (diversity) or drops it
   * (noise) — either policy needs this rank, and it must be
   * reproducible: elements quantize ONCE to micro (the q138 seam),
   * centroids are truncating-div means, distances are exact integer
   * sums, and the percentile is the q92 rank rule — every engine
   * replays the whole chain bit-for-bit, where float means would differ
   * by summation order.
   *
   * Scale shape: two passes over the (group, dim, q) explode (centroid
   * aggregate with map-side partials, then the distance join against
   * the broadcast |groups|·dim centroid table) — re-scanning the source
   * beats materializing a corpus×dim intermediate; the final percentile
   * windows run per group over per-DOC rows (one row per vector, not
   * per dimension).
   */
  def prototypicalityRank(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      groupCol: String): DataFrame = {
    Dedup.requireIntegralId(df, idCol, "prototypicalityRank")
    def rows = df.select(col(idCol).cast("long").as("id"),
        col(groupCol).as(groupCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .select(col("id"), col(groupCol), col("dim"),
        micro(col("x")).as("q"))
    val centroids = rows.groupBy(col(groupCol), col("dim"))
      .agg(expr("sum(q) div count(1)").as("__c"))
    val dist = rows.join(broadcast(centroids), Seq(groupCol, "dim"))
      .groupBy(col("id"), col(groupCol))
      .agg(sum(abs(col("q") - col("__c"))).as("dist_micro"))
    Eval.percentileCalibrate(dist, groupCol, "dist_micro", "atypicality_permille")
  }

  /**
   * Sparse sign random projection (Achlioptas' database-friendly
   * Johnson–Lindenstrauss matrix): each of the `outDims` output
   * components is an integer sum of the input dims weighted by
   * {+1, 0, -1} at probabilities {1/6, 2/3, 1/6} — the dimensionality-
   * reduction step in front of brute-force/LSH ANN when the raw
   * embedding is too wide to move. Entries derive from md5 of
   * (seed, dim, k), NOT a driver RNG, so the projection matrix is a
   * pure expression both engines replay bit-for-bit and every run of
   * every executor agrees without shipping a matrix.
   *
   * All arithmetic is integer: elements quantize ONCE to micro units
   * (the q138 seam — round half away from zero, both engines agree),
   * signs are exact ±1, so each projected component is an exact integer
   * sum — order-independent across partitions, unlike a float dot.
   *
   * Scale shape: the matrix is a |inDims·outDims|-row leaf reduced to
   * its ~1/3 nonzero entries and broadcast (a 1024-cell table for
   * 64→16); the corpus side is one posexplode to (id, dim, micro)
   * longs, one broadcast-join fan-out over the ~outDims/3 nonzero
   * signs per dim, and one (id, k) sum with map-side partials. Nothing
   * corpus-sized is collected, shuffled wide, or re-scanned.
   */
  def randomProjectSparse(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      inDims: Int,
      outDims: Int,
      seed: String = "rp"): DataFrame = {
    Dedup.requireIntegralId(df, idCol, "randomProjectSparse")
    require(inDims > 0 && outDims > 0,
      s"randomProjectSparse: dims must be positive, got $inDims -> $outDims")
    val cells = df.sparkSession.range(inDims.toLong * outDims)
      .select(expr(s"id div $outDims").as("dim"),
        (col("id") % outDims).cast("long").as("k"))
      .withColumn("__b",
        graft.functions.TextHashFunctions.md5_hex_slice_long(
          concat(lit(seed), lit("|"), col("dim").cast("string"),
            lit("|"), col("k").cast("string")), 25, 8) % 6)
      .withColumn("sign",
        when(col("__b") === 0, 1L).when(col("__b") === 1, -1L).otherwise(0L))
      .where(col("sign") =!= 0L)
      .select("dim", "k", "sign")
    df.select(col(idCol).cast("long").as("id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .select(col("id"), col("dim").cast("long").as("dim"),
        micro(col("x")).as("q"))
      .join(broadcast(cells), "dim")
      .groupBy(col("id"), col("k"))
      .agg(sum(col("sign") * col("q")).as("proj_micro"))
  }

  /**
   * ANN serving THROUGH the JL projection — the reason
   * [[randomProjectSparse]] exists: coarse top-(k·expand) neighbors by
   * exact integer L2 in the 16-dim projected space (4× fewer bytes per
   * comparison than the raw 64-dim floats), then exact float cosine
   * re-ranks only those candidates — the q166 two-stage contract with a
   * JL coarse space instead of int8 codes.
   *
   * Determinism: projected components are exact integers; the coarse
   * score is −(L2² div 256) — the div keeps the magnitude inside
   * double's 2^53 exact-integer range for the top-k aggregate (unit-norm
   * 64-dim inputs bound L2² by ~7e16), and since both engines apply the
   * same truncation with an id tie-break, the candidate cut replays
   * bit-for-bit. The rerank is the q27/q166 (cosine DESC, id) rule.
   *
   * Scale shape: the projection runs once over queries ∪ corpus (one
   * broadcast-join fan-out, one (id, k) aggregate); the pivot to a
   * 16-int array is one id-keyed aggregate; the coarse stage is the
   * broadcast-queries × corpus scan with a bounded-heap TopKByScore
   * (map-side partials — no |Q|·|C| rows ever reach an exchange); the
   * rerank touches k·expand full vectors per query.
   */
  def projectedRerankTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      vecCol: String,
      inDims: Int,
      projDims: Int,
      k: Int,
      expand: Int = 4,
      seed: String = "rp"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(expand >= 1, s"expand must be >= 1, got $expand")
    // The pivot densifies against sequence(0, projDims-1): an output dim
    // whose matrix column drew all-zero signs (probability (2/3)^inDims —
    // negligible at 64 dims but real for tiny inDims) receives no rows
    // from the sparse projection, and a collect_list-only pivot would
    // silently shorten that vector, null-padding zip_with and poisoning
    // __d2 for every pair. A missing dim is an exact zero, so densifying
    // is the mathematically correct reading, not a patch.
    def pivot(df: DataFrame, idCol: String): DataFrame =
      randomProjectSparse(df, idCol, vecCol, inDims, projDims, seed)
        .groupBy(col("id"))
        .agg(map_from_entries(collect_list(struct(col("k"), col("proj_micro"))))
          .as("__pm"))
        .select(col("id"),
          transform(sequence(lit(0L), lit(projDims - 1L)),
            i => coalesce(element_at(col("__pm"), i), lit(0L))).as("pv"))
    val qp = broadcast(pivot(queries, queryIdCol)
      .withColumnRenamed("id", "query_id").withColumnRenamed("pv", "qpv"))
    val coarse = pivot(corpus, corpusIdCol)
      .join(qp, col("query_id") =!= col("id"))
      .withColumn("__d2", l2sq(col("qpv"), col("pv")))
    rerankCoarseHeap(coarse, -(expr("__d2 div 256")).cast("double"), col("id"),
      queries, corpus, queryIdCol, corpusIdCol, vecCol, k, expand)
  }

  /**
   * Per-group embedding centroid drift between two corpus slices — the
   * distribution-shift monitor a training pipeline runs between crawl
   * snapshots or data-mix revisions ("did source X's embedding mass
   * move?"). Returns one row per group present in EITHER slice:
   * (group, n_a, n_b, l1_micro, linf_micro) — the L1 and L∞ distances
   * between the two slices' per-group centroids, in micro units; null
   * distances when a side has no vectors (nothing to compare against).
   *
   * All arithmetic is integer: elements quantize ONCE to micro units
   * (round(x·1e6), float→double widening is exact, both engines round
   * half away from zero), centroids are truncating `div` of micro sums
   * (Spark `div` and DuckDB `//` agree on toward-zero), so every
   * distance replays bit-for-bit. Float centroids would differ by
   * summation order — useless as an equality gate AND as a cross-run
   * drift baseline.
   *
   * Scale shape: one posexplode to (group, dim, micro) rows — 3 compact
   * longs, map-side combined immediately — a single (group, dim)
   * aggregate holding both slices' partial sums (the slices are tagged
   * and unioned, so ONE scan each, one shuffle total), then a |groups|-
   * row aggregate. No per-vector state, no arrays through the exchange.
   */
  def centroidDrift(
      sliceA: DataFrame,
      sliceB: DataFrame,
      groupCol: String,
      vecCol: String): DataFrame = {
    def side(df: DataFrame, tag: Int): DataFrame =
      df.select(col(groupCol).as("group"), lit(tag).as("__t"),
          posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
        .select(col("group"), col("__t"), col("dim"),
          micro(col("x")).as("q"))
    val perDim = side(sliceA, 0).unionByName(side(sliceB, 1))
      .groupBy(col("group"), col("dim"))
      .agg(
        sum(when(col("__t") === 0, col("q"))).as("sa"),
        count(when(col("__t") === 0, lit(1))).as("na"),
        sum(when(col("__t") === 1, col("q"))).as("sb"),
        count(when(col("__t") === 1, lit(1))).as("nb"))
      .select(col("group"), col("na"), col("nb"),
        when(col("na") > 0 && col("nb") > 0,
          abs(expr("sa div na") - expr("sb div nb"))).as("d"))
    perDim.groupBy(col("group"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("d")).as("l1_micro"), max(col("d")).as("linf_micro"))
  }
}
