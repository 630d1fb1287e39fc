package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.xml.SparkTestSession

class KmeansSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("kmeansLloyd separates two obvious blobs with exact integer d2") {
    // Blob A around (0, 0), blob B around (1, 1) — any seeding converges
    // in one iteration; d2 must be the exact micro^2 distance to the
    // truncating-div blob centroid.
    val vecs = Seq(
      (0L, Seq(0.0, 0.01)), (1L, Seq(0.01, 0.0)), (2L, Seq(0.0, 0.0)),
      (10L, Seq(1.0, 0.99)), (11L, Seq(0.99, 1.0)), (12L, Seq(1.0, 1.0))
    ).toDF("id", "v")
    val out = Similarity.kmeansLloydAssign(vecs, "id", "v", k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byCluster = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCluster.size === 2)
    assert(byCluster.values.toSet === Set(Set(0L, 1L, 2L), Set(10L, 11L, 12L)))
    // Blob A centroid = ((0+10000+0) div 3, (10000+0+0) div 3) = (3333, 3333)
    val d2ofId0 = out.find(_._1 == 0L).get._3
    assert(d2ofId0 === 3333L * 3333L + (10000L - 3333L) * (10000L - 3333L))
  }

  test("kmeansLloyd: duplicate seed vectors leave an empty cluster intact") {
    // Three seeds over two distinct points: two centroids coincide, ties
    // break to the lower cluster id, the starved cluster keeps its seed
    // centroid and the run still completes deterministically.
    val vecs = Seq(
      (0L, Seq(0.0)), (1L, Seq(0.0)), (2L, Seq(0.0)), (3L, Seq(5.0))
    ).toDF("id", "v")
    val out = Similarity.kmeansLloydAssign(vecs, "id", "v", k = 3, iters = 3)
    assert(out.count() === 4L)
    val clusters = out.select("cluster").distinct().collect().map(_.getInt(0))
    assert(clusters.length <= 3)
    // run twice: identical output (no RNG anywhere)
    val again = Similarity.kmeansLloydAssign(vecs, "id", "v", k = 3, iters = 3)
    assert(out.orderBy("id").collect().toSeq ===
      again.orderBy("id").collect().toSeq)
  }

  test("kmeansLloyd refuses k larger than the corpus") {
    val vecs = Seq((0L, Seq(0.0))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansLloydAssign(vecs, "id", "v", k = 2, iters = 1)
    }
    assert(e.getMessage.contains("< k"))
  }

  test("semDeDupWithinClusters keeps min-id reps, passes singletons through") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)),   // dup pair, blob A
      (5L, Seq(0.9, 0.1)),                        // near but < threshold 0.999
      (10L, Seq(0.0, 1.0)), (11L, Seq(0.0, 1.0)), // dup pair, blob B
      (12L, Seq(0.1, 0.9))
    ).toDF("id", "v")
    val kept = Similarity.semDeDupWithinClusters(
        vecs, "id", "v", k = 2, iters = 2, threshold = 0.999)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 5L, 10L, 12L))
  }

  test("semDeDupParams: k grows with n, pair volume linear, budget refusal") {
    assert(Similarity.semDeDupParams(500) === 8) // the q208 gate's corpus
    assert(Similarity.semDeDupParams(5000) === 79)
    // 10x the corpus at fixed targetClusterSize: k grows 10x, so the
    // balanced within-cluster pair volume n·cs/2 grows 10x — LINEAR,
    // never the n² a fixed k decays to.
    val k1 = Similarity.semDeDupParams(1L << 20)
    val k10 = Similarity.semDeDupParams(10L << 20)
    assert(k10 === 10 * k1)
    val e = intercept[IllegalArgumentException] {
      Similarity.semDeDupParams(1L << 40, targetClusterSize = 1024)
    }
    assert(e.getMessage.contains("maxPairBudget"))
  }

  test("semDeDup auto-k equals the derived explicit k; skew probe refuses") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)),
      (5L, Seq(0.9, 0.1)),
      (10L, Seq(0.0, 1.0)), (11L, Seq(0.0, 1.0)),
      (12L, Seq(0.1, 0.9))
    ).toDF("id", "v")
    // ceil(6/3) = 2 — the same k the explicit call pins.
    val auto = Similarity.semDeDupWithinClusters(vecs, "id", "v",
        iters = 2, threshold = 0.999, targetClusterSize = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    val explicit = Similarity.semDeDupWithinClusters(vecs, "id", "v",
        k = 2, iters = 2, threshold = 0.999)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(auto === explicit)
    // Realized-skew guard: k=1 puts all 6 rows in one cluster — 15
    // pairs, past a budget of 2 — refused BEFORE the pair join runs.
    val e = intercept[IllegalArgumentException] {
      Similarity.semDeDupWithinClusters(vecs, "id", "v",
        k = 1, iters = 1, threshold = 0.9, maxPairBudget = 2)
    }
    assert(e.getMessage.contains("within-cluster pairs"))
  }

  test("argmin: keyed-join tier == inline tier: exact d2, tie to lower cluster") {
    val base = Seq(
      (0L, Seq(0L, 0L)), (1L, Seq(1000000L, 0L)), (2L, Seq(500000L, 0L)),
      (2L, Seq(1000000L, 0L))
    ).toDF("id", "qv")
    // The first id-2 row is EQUIDISTANT from clusters 0 and 1 — the tie
    // must go to cluster 0 on both tiers; the second id-2 row must stay a
    // row of its own on both. 15 far-away centroids push k to 17, past
    // the inline tier, so `argmin` takes the broadcast keyed join.
    val cents = Array(Array(0L, 0L), Array(1000000L, 0L)) ++
      Array.tabulate(15)(i => Array(1000000000L + i, 1000000000L))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("__best.d2"), col("__best.cluster"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sorted.toSeq
    val keyed = Similarity.argmin(base, cents)
    assert(keyed.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty, "k=17 must plan the keyed-join tier")
    val inline = canon(Similarity.argminInline(base, cents))
    assert(inline === canon(keyed))
    assert(inline.length === 4)
    assert(inline.contains((2L, 500000L * 500000L, 0)))
  }

  test("Lloyd past the inline tier (k=17) stays exact and deterministic") {
    val vecs = (0 until 20).map(i => (i.toLong, Seq(i / 10.0))).toDF("id", "v")
    val cents = Similarity.kmeansLloydCentroids(vecs, "id", "v",
      k = 17, iters = 2)
    val out = Similarity.kmeansLloydAssign(vecs, "id", "v", k = 17, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // Replay the exact integer argmin driver-side against the trained
    // matrix: same d2, same tie-to-lowest-cluster rule.
    out.foreach { case (id, cluster, d2) =>
      val q = id * 100000L // round((id/10.0)·1e6) exactly
      val ds = cents.map(c => (q - c(0)) * (q - c(0)))
      assert(d2 === ds.min, s"id=$id")
      assert(cluster === ds.indexOf(ds.min), s"id=$id")
    }
    val again = Similarity.kmeansLloydAssign(vecs, "id", "v", k = 17, iters = 2)
      .orderBy("id").collect().toSeq
    assert(again === Similarity.kmeansLloydAssign(vecs, "id", "v",
      k = 17, iters = 2).orderBy("id").collect().toSeq)
  }

  test("hardNegatives: same-label and null-label rows never mined") {
    val emb = Seq(
      (0L, Seq(1.0, 0.0), Some(0)),
      (1L, Seq(0.99, 0.1), Some(0)),  // same label as query — excluded
      (2L, Seq(0.9, 0.2), Some(1)),   // the hard negative
      (3L, Seq(0.0, 1.0), Some(1)),   // easy negative, ranked after 2
      (4L, Seq(1.0, 0.0), None)       // null label — excluded
    ).toDF("id", "v", "label")
    val out = Similarity.hardNegatives(emb.filter($"id" === 0), emb,
        "id", "id", "v", "label", k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq === Seq((1, 2L), (2, 3L)))
  }

  test("centroidLabelProbe: separable labels hit 1000, planted confusion counted") {
    val train = Seq(
      (0L, Seq(0.0, 0.0), 0), (1L, Seq(0.2, 0.0), 0),
      (2L, Seq(1.0, 1.0), 1), (3L, Seq(0.8, 1.0), 1)
    ).toDF("id", "v", "label")
    val eval = Seq(
      (10L, Seq(0.1, 0.1), 0),
      (11L, Seq(0.9, 0.9), 1),
      (12L, Seq(0.95, 0.95), 0) // a label-0 row sitting in label-1 space
    ).toDF("id", "v", "label")
    val out = Similarity.centroidLabelProbe(train, eval, "id", "v", "label")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(0) === ((2L, 1L, 500L)))
    assert(out(1) === ((1L, 1L, 1000L)))
  }

  test("centroidLabelProbe past the inline tier: planted tie to the lower label") {
    // 18 labels (> 16, the keyed-join tier): label L's one train row sits
    // at (L, 0), so its centroid is (L·1e6, 0). Every eval row sits 0.1
    // off its own label's centroid, except a label-4 row planted at
    // (3.5, 0), EXACTLY between labels 3 and 4: the tie goes to label 3.
    // The planted row shares its id AND label with label 4's own eval
    // row; both still count.
    val train = (0 until 18).map(l => (l.toLong, Seq(l.toDouble, 0.0), l))
      .toDF("id", "v", "label")
    val eval = ((0 until 18).map(l => (100L + l, Seq(l + 0.1, 0.0), l)) :+
      ((104L, Seq(3.5, 0.0), 4))).toDF("id", "v", "label")
    val probe = Similarity.centroidLabelProbe(train, eval, "id", "v", "label")
    assert(probe.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty, "18 labels must plan the keyed-join tier")
    val out = probe.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size === 18)
    assert(out(4) === ((2L, 1L, 500L)))
    (0 until 18).filter(_ != 4).foreach(l => assert(out(l) === ((1L, 1L, 1000L)), s"label $l"))
  }

  test("kmeansAssign from stored centroids equals the trained assignment") {
    val vecs = Seq(
      (0L, Seq(0.0, 0.1)), (1L, Seq(0.1, 0.0)),
      (10L, Seq(1.0, 0.9)), (11L, Seq(0.9, 1.0))
    ).toDF("id", "v")
    val cents = Similarity.kmeansLloydCentroids(vecs, "id", "v", k = 2, iters = 2)
    // round-trip the model through rows, as a stored table would
    val rows = cents.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (value, dim) => (i, dim, value) } }
    val back = Array.ofDim[Long](2, 2)
    rows.foreach { case (i, d, v) => back(i)(d) = v }
    val served = Similarity.kmeansAssign(vecs, "id", "v", back)
      .orderBy("id").collect().toSeq
    val trained = Similarity.kmeansLloydAssign(vecs, "id", "v", k = 2, iters = 2)
      .orderBy("id").collect().toSeq
    assert(served === trained)
  }

  test("suff-stats refresh: disjoint slices add to the full-corpus refresh") {
    val vecs = Seq(
      (0L, Seq(0.0, 0.1)), (1L, Seq(0.1, 0.0)), (2L, Seq(0.05, 0.05)),
      (10L, Seq(1.0, 0.9)), (11L, Seq(0.9, 1.0)), (12L, Seq(0.95, 0.95))
    ).toDF("id", "v")
    val cents = Similarity.kmeansLloydCentroids(vecs, "id", "v", k = 2, iters = 2)
    val even = Similarity.kmeansSuffStats(
      vecs.where($"id" % 2 === 0), "id", "v", cents)
    val odd = Similarity.kmeansSuffStats(
      vecs.where($"id" % 2 === 1), "id", "v", cents)
    val merged = Similarity.kmeansRefreshCentroids(even.unionByName(odd))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val full = Similarity.kmeansRefreshCentroids(
        Similarity.kmeansSuffStats(vecs, "id", "v", cents))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(merged === full)
    assert(merged.size === 4) // 2 clusters x 2 dims
  }

  test("clusterCoreset: per-cluster (d2, id) rank, balanced, heap not window") {
    val assign = Seq(
      (0L, 0, 100L), (1L, 0, 50L), (2L, 0, 50L), (3L, 0, 10L),
      (10L, 1, 7L)
    ).toDF("id", "cluster", "d2")
    val out = Similarity.clusterCoreset(assign, m = 2)
    // Bounded-heap aggregate, never a per-cluster window sort.
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
    val rows = out.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(rows.toSet === Set((0, 1, 3L), (0, 2, 1L), (1, 1, 10L)))
  }

  test("kmeansTwoLevelAssign separates four blobs, deterministic global ids") {
    // Four well-separated blobs; coarse (k=2) splits left/right, fine
    // (k=2 per shard) splits top/bottom. Every blob must land whole in
    // one global cluster id = shard*kFine + fcl, and a re-run must be
    // bit-identical (no RNG anywhere).
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(0.01, 0.0)), (2L, Seq(0.0, 0.01)),
      (10L, Seq(0.0, 5.0)), (11L, Seq(0.01, 5.0)), (12L, Seq(0.0, 5.01)),
      (20L, Seq(9.0, 0.0)), (21L, Seq(9.01, 0.0)), (22L, Seq(9.0, 0.01)),
      (30L, Seq(9.0, 5.0)), (31L, Seq(9.01, 5.0)), (32L, Seq(9.0, 5.01))
    ).toDF("id", "v")
    val out = Similarity.kmeansTwoLevelAssign(vecs, "id", "v",
        kCoarse = 2, kFine = 2, itersCoarse = 3, itersFine = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byCluster = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCluster.size === 4)
    assert(byCluster.values.toSet === Set(
      Set(0L, 1L, 2L), Set(10L, 11L, 12L),
      Set(20L, 21L, 22L), Set(30L, 31L, 32L)))
    // d2 is exact micro² to the truncating-div fine centroid: blob at
    // origin has centroid ((0+10000+0) div 3, (0+0+10000) div 3).
    val d2ofId0 = out.find(_._1 == 0L).get._3
    assert(d2ofId0 === 3333L * 3333L + 3333L * 3333L)
    val again = Similarity.kmeansTwoLevelAssign(vecs, "id", "v",
        kCoarse = 2, kFine = 2, itersCoarse = 3, itersFine = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("kmeansTwoLevelAssign driver state is bounded by the coarse level") {
    // The 100×-scale contract: with k = kCoarse*kFine total clusters,
    // ONLY the coarse level's centroids ever reach the driver. At
    // kCoarse=4, kFine=32 (k=128) over dim-2 vectors the trainer may
    // collect at most kCoarse seeds + itersCoarse*(kCoarse*dim) stat
    // rows = 4 + 2*8 = 20 — an order of magnitude under k, and
    // independent of kFine entirely.
    val vecs = (0L until 256L).map { i =>
      (i, Seq((i % 16).toDouble, (i / 16).toDouble))
    }.toDF("id", "v")
    Similarity.driverCollectedRows.set(0L)
    val out = Similarity.kmeansTwoLevelAssign(vecs, "id", "v",
      kCoarse = 4, kFine = 32, itersCoarse = 2, itersFine = 2)
    assert(out.count() === 256L)
    val collected = Similarity.driverCollectedRows.get()
    assert(collected <= 20L,
      s"two-level trainer collected $collected rows — driver state must " +
        "stay bounded by the coarse level (kCoarse + iters*kCoarse*dim)")
    // Contrast: the flat trainer at the same total k collects k seeds
    // plus k*dim stat rows per iteration — strictly more than the
    // hierarchy, and growing with k where the hierarchy grows with √k.
    Similarity.driverCollectedRows.set(0L)
    Similarity.kmeansLloydAssign(vecs, "id", "v", k = 128, iters = 2).count()
    assert(Similarity.driverCollectedRows.get() > collected)
  }

  test("serve fine argmin: inline expression tier equals the join plan bit-for-bit") {
    // A stored-model-shaped fine table with unequal per-shard fine
    // counts and a PLANTED exact tie (shard 1's fcl 0 and 2 are the
    // same centroid): the inline tier must reproduce the join plan's
    // min(struct(d2, fcl, qv)) — including the tie to the LOWEST fcl —
    // on every row.
    val sharded = (0L until 300L).map { i =>
      (i, Seq.tabulate(4)(d => ((i * (d + 7)) % 23 - 11) * 1000000L),
        (i % 3).toInt)
    }.toDF("id", "qv", "shard")
    val cents = Seq(
      (0, 0, Seq(0L, 0L, 0L, 0L)),
      (0, 1, Seq(2000000L, -3000000L, 1000000L, 0L)),
      (1, 0, Seq(-5000000L, 5000000L, 0L, 1000000L)),
      (1, 2, Seq(-5000000L, 5000000L, 0L, 1000000L)), // exact tie with fcl 0
      (2, 0, Seq(7000000L, 0L, -2000000L, 4000000L)),
      (2, 1, Seq(-1000000L, 1000000L, 2000000L, -8000000L)),
      (2, 3, Seq(0L, 0L, 0L, 0L))
    ).toDF("shard", "fcl", "cv")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("shard"), col("__m.d2"), col("__m.fcl"),
        col("__m.qv"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getSeq[Long](4)))
      .sortBy(_._1).toSeq
    val viaJoin = canon(Similarity.argminJoin(sharded, cents, Seq("shard"), "fcl"))
    val viaInline = canon(Similarity.fineArgminServe(sharded, cents, 3))
    assert(viaInline === viaJoin)
    // ties landed on the lowest fcl for every shard-1 row
    assert(viaInline.filter(_._2 == 1).forall(_._4 == 0))
    // and the inline tier actually engaged (no partial-coverage or
    // size fallback for this model shape)
    assert(cents.count() * 4 <= Similarity.FineInlineMaxElements)
  }

  test("kmeansTwoLevelAssign: a shard smaller than kFine seeds what it has") {
    // 3 points land in one coarse shard, 1 in the other; kFine=3 asks
    // for more seeds than the singleton shard can give — it seeds one
    // fine centroid and the run completes with every row assigned.
    val vecs = Seq(
      (0L, Seq(0.0)), (1L, Seq(0.02)), (2L, Seq(0.04)), (3L, Seq(9.0))
    ).toDF("id", "v")
    val out = Similarity.kmeansTwoLevelAssign(vecs, "id", "v",
      kCoarse = 2, kFine = 3, itersCoarse = 2, itersFine = 2)
    assert(out.count() === 4L)
    assert(out.select("id").distinct().count() === 4L)
  }

  test("kmeansTwoLevelServe from the stored model equals the trained assignment") {
    // The fit/serve contract: fitting once and serving the SAME corpus
    // through (coarse matrix, fine table) reproduces the trainer's
    // assignment bit-for-bit — deterministic integers, same argmin tie
    // rule at both levels.
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(0.01, 0.0)), (2L, Seq(0.0, 0.01)),
      (10L, Seq(0.0, 5.0)), (11L, Seq(0.01, 5.0)), (12L, Seq(0.0, 5.01)),
      (20L, Seq(9.0, 0.0)), (21L, Seq(9.01, 0.0)), (22L, Seq(9.0, 0.01)),
      (30L, Seq(9.0, 5.0)), (31L, Seq(9.01, 5.0)), (32L, Seq(9.0, 5.01))
    ).toDF("id", "v")
    val trained = Similarity.kmeansTwoLevelAssign(vecs, "id", "v",
        kCoarse = 2, kFine = 2, itersCoarse = 3, itersFine = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val (coarse, fine) = Similarity.kmeansTwoLevelModel(vecs, "id", "v",
      kCoarse = 2, kFine = 2, itersCoarse = 3, itersFine = 3)
    val served = Similarity.kmeansTwoLevelServe(vecs, "id", "v",
        coarse, fine, kFine = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(served.toSeq === trained.toSeq)
  }

  test("kmeansTwoLevelModel patches empty coarse shards; serve guards the table") {
    // All-identical vectors: every row ties to coarse cluster 0 (lower
    // id wins), so shard 1 trains EMPTY — the model must still carry a
    // fine centroid for it (fcl 0 = the coarse centroid) so serve stays
    // total over inputs that land there.
    val vecs = (0L until 6L).map(i => (i, Seq(1.0, 1.0))).toDF("id", "v")
    val (coarse, fine) = Similarity.kmeansTwoLevelModel(vecs, "id", "v",
      kCoarse = 2, kFine = 2, itersCoarse = 1, itersFine = 1)
    assert(coarse.length === 2)
    val shards = fine.select("shard").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(shards === Set(0, 1),
      "empty coarse shard must be patched into the fine table")
    val served = Similarity.kmeansTwoLevelServe(vecs, "id", "v",
      coarse, fine, kFine = 2)
    assert(served.count() === 6L)
    // Stored-model guards (the q233/q234 modulus-hazard convention): a
    // hand-truncated table (missing shard) and an out-of-range declared
    // kFine both refuse loudly instead of silently mis-assigning. Serve
    // and suff-stats each validate: without it, suff-stats rows of the
    // missing shard vanish in the fine join and the stats come out smaller.
    Seq[DataFrame => DataFrame](
      Similarity.kmeansTwoLevelServe(vecs, "id", "v", coarse, _, kFine = 2),
      Similarity.twoLevelSuffStats(vecs, "id", "v", coarse, _, kFine = 2)
    ).foreach { serve =>
      val e1 = intercept[IllegalArgumentException] {
        serve(fine.where(col("shard") === 0))
      }
      assert(e1.getMessage.contains("truncated"))
    }
    val badFcl = fine.withColumn("fcl", col("fcl") + 5)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.kmeansTwoLevelServe(vecs, "id", "v", coarse, badFcl,
        kFine = 2)
    }
    assert(e2.getMessage.contains("fcl range"))
  }

  test("twoLevelSuffStats: disjoint slices add to the full-corpus refresh") {
    // The q243 contract on the hierarchy: stats built per slice through
    // the FROZEN stored model merge by plain addition, and the refreshed
    // fine table equals a one-step refresh over the full corpus. Fine
    // clusters with no rows in the period keep their stored centroid.
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(0.02, 0.0)), (2L, Seq(0.0, 0.02)),
      (10L, Seq(0.0, 5.0)), (11L, Seq(0.02, 5.0)),
      (20L, Seq(9.0, 0.0)), (21L, Seq(9.02, 0.0)),
      (30L, Seq(9.0, 5.0)), (31L, Seq(9.02, 5.0)), (32L, Seq(9.0, 5.02))
    ).toDF("id", "v")
    val (coarse, fine) = Similarity.kmeansTwoLevelModel(vecs, "id", "v",
      kCoarse = 2, kFine = 2, itersCoarse = 2, itersFine = 2)
    val even = Similarity.twoLevelSuffStats(
      vecs.where(col("id") % 2 === 0), "id", "v", coarse, fine, kFine = 2)
    val odd = Similarity.twoLevelSuffStats(
      vecs.where(col("id") % 2 === 1), "id", "v", coarse, fine, kFine = 2)
    val merged = Similarity.kmeansTwoLevelRefresh(fine,
        even.unionByName(odd))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(t => (t._1, t._2))
    val full = Similarity.kmeansTwoLevelRefresh(fine,
        Similarity.twoLevelSuffStats(vecs, "id", "v", coarse, fine,
          kFine = 2))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(t => (t._1, t._2))
    assert(merged.toSeq === full.toSeq)
    assert(merged.length >= 4)
  }

  test("kmeansTwoLevelRefresh: stats for absent clusters or with zero counts change nothing") {
    // Caller-supplied stats may name a (shard, fcl) the stored table does
    // not hold, or carry a group whose counts sum to 0; the refresh must
    // neither add a centroid row nor divide by zero — such rows are
    // treated as absent, so the stored centroid stays.
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(0.02, 0.0)), (2L, Seq(0.0, 0.02)),
      (10L, Seq(0.0, 5.0)), (11L, Seq(0.02, 5.0)),
      (20L, Seq(9.0, 0.0)), (21L, Seq(9.02, 0.0)),
      (30L, Seq(9.0, 5.0)), (31L, Seq(9.02, 5.0)), (32L, Seq(9.0, 5.02))
    ).toDF("id", "v")
    val (coarse, fine) = Similarity.kmeansTwoLevelModel(vecs, "id", "v",
      kCoarse = 2, kFine = 2, itersCoarse = 2, itersFine = 2)
    // a slice that leaves some stored clusters without rows this period
    val stats = Similarity.twoLevelSuffStats(
      vecs.where(col("id") < 3), "id", "v", coarse, fine, kFine = 2)
    val fineKeys = fine.select("shard", "fcl").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    val statKeys = stats.select("shard", "fcl").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    val idle = fineKeys -- statKeys
    assert(idle.nonEmpty)
    val degenerate = (idle.toSeq.map { case (sh, f) => (sh, f, 0, 5L, 0L) } :+
        ((0, 99, 0, 5L, 1L))) // a fine cluster the model does not have
      .toDF("shard", "fcl", "dim", "s", "n")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val clean = rows(Similarity.kmeansTwoLevelRefresh(fine, stats))
    val noisy = rows(Similarity.kmeansTwoLevelRefresh(fine,
      stats.unionByName(degenerate)))
    assert(noisy === clean)
    assert(clean.map(t => (t._1, t._2)).toSet === fineKeys)
  }

  test("semDeDupWithinClusters past flatKMax routes through the hierarchy") {
    // flatKMax=1 forces the two-level trainer at any derived k; the
    // planted dup pairs must still collapse to their min id and the
    // singleton must pass through — the q238 gate's shape.
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)),
      (5L, Seq(0.5, 0.5)),
      (10L, Seq(0.0, 1.0)), (11L, Seq(0.0, 1.0))
    ).toDF("id", "v")
    val kept = Similarity.semDeDupWithinClusters(vecs, "id", "v",
        k = 4, iters = 2, threshold = 0.999, flatKMax = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(5L))
    assert(kept.intersect(Set(0L, 1L)).size === 1)
    assert(kept.intersect(Set(10L, 11L)).size === 1)
    assert(kept.min >= 0L && kept.size === 3)
  }

  test("semDeDup incremental: stored survivor index screens a fresh batch") {
    // Corpus: two tight blobs; within each, near-identical vectors dedup
    // to the min-id representative through the STORED two-level model
    // (zero re-training). The survivor index then screens a fresh batch:
    // a near-copy of a surviving rep must pair with it, a dissimilar
    // vector must pass clean — the q103 persisted-index convention on
    // the semantic path.
    val corpus = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.001)), (2L, Seq(0.999, 0.0)),
      (10L, Seq(0.0, 1.0)), (11L, Seq(0.0, 0.999)), (12L, Seq(0.001, 1.0))
    ).toDF("id", "v")
    // One global cluster (kCoarse = kFine = 1) so the survivor set is
    // clustering-independent: the within-cluster pairs are exactly the
    // within-blob cosine >= 0.9 pairs (cross-blob cosine is ~0), each
    // blob is one component, min id survives.
    val (coarse, fine) = Similarity.kmeansTwoLevelModel(corpus, "id", "v",
      kCoarse = 1, kFine = 1, itersCoarse = 2, itersFine = 2)
    val index = Similarity.semDeDupIndexFromModel(corpus, "id", "v",
      coarse, fine, kFine = 1, threshold = 0.9)
    val idx = index.collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(idx.map(_._2).toSet === Set(0L, 10L))
    val batch = Seq(
      (100L, Seq(1.0, 0.0005)), // near-copy of blob A's rep -> pairs with 0
      (101L, Seq(-1.0, 1.0)) // cosine 0.707 / -0.707 to the reps -> clean
    ).toDF("id", "v")
    val pairs = Similarity.semDeDupPairsAgainstIndex(batch, "id", "v",
        coarse, fine, kFine = 1, index, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((100L, 0L)))
    // A truncated index (hand-dropped cluster rows elsewhere in the
    // model) still fails loudly through the serve-side shape validation.
    val badFine = fine.where(col("shard") =!= 0)
    intercept[IllegalArgumentException] {
      Similarity.semDeDupPairsAgainstIndex(batch, "id", "v",
        coarse, badFine, kFine = 1, index, threshold = 0.9)
    }
  }

  test("fineArgminServe: out-of-range shard ids ride the join plan, never throw") {
    // kCoarse DISTINCT shard ids that are NOT {0..kCoarse-1} — the shape
    // a malformed stored table has when fineArgminServe is called without
    // the public entry points' shape validation. The count-only coverage
    // check would admit it to the inline tier and die at byShard(3); the
    // bound check must route it to the join plan, whose per-row join
    // semantics simply find no candidates for absent shards.
    val sharded = Seq(
      (0L, Seq(0L, 0L), 1), (1L, Seq(1000000L, 0L), 2), (2L, Seq(0L, 500000L), 3)
    ).toDF("id", "qv", "shard")
    val badCents = Seq(
      (1, 0, Seq(0L, 0L)), (2, 0, Seq(1000000L, 0L)), (3, 0, Seq(0L, 0L))
    ).toDF("shard", "fcl", "cv")
    val out = Similarity.fineArgminServe(sharded, badCents, kCoarse = 3)
      .select(col("id"), col("__m.fcl"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    // identical to the join plan on the same inputs
    val viaJoin = Similarity.argminJoin(sharded, badCents, Seq("shard"), "fcl")
      .select(col("id"), col("__m.fcl"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(out.toSeq === viaJoin.toSeq)
  }

  test("fineArgminServe: inline model collected once per stored-model frame") {
    // The q251 serve-loop shape: ONE frozen fine DataFrame served many
    // times. The first call pays the shape probe + collect (Spark jobs);
    // every later call with the same frame must plan from the memoized
    // arrays — zero jobs until the returned frame is acted on.
    val sharded = (0L until 50L)
      .map(i => (i, Seq(i * 1000L, -i * 500L), (i % 2).toInt))
      .toDF("id", "qv", "shard")
    val cents = Seq(
      (0, 0, Seq(0L, 0L)), (0, 1, Seq(9000000L, 0L)),
      (1, 0, Seq(-1000000L, 2000000L))
    ).toDF("shard", "fcl", "cv").localCheckpoint()
    def inlineExpr(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.expressions.flatMap(_.collect {
        case e: graft.functions.NearestFineCentroidL2 => e
      }).head
    val served1 = Similarity.fineArgminServe(sharded, cents, kCoarse = 2)
    val first = served1.select("id", "__m.fcl").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val served2 = Similarity.fineArgminServe(sharded, cents, kCoarse = 2)
    // The SAME flattened centroid arrays back the second plan — a fresh
    // probe + collect would have built new instances.
    assert(inlineExpr(served2).fines eq inlineExpr(served1).fines,
      "second serve against the same stored frame re-collected the model")
    val again = served2.select("id", "__m.fcl").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(again.sortBy(_._1).toSeq === first.sortBy(_._1).toSeq)
  }

  test("sampled fit: covers-the-corpus sample reproduces the full fit exactly") {
    // maxFitRows >= n makes the deterministic sample the whole corpus —
    // the sampled path must then be the full trainer bit-for-bit (same
    // seeds, same recurrence), pinning that sampling changes WHICH rows
    // train and nothing else.
    val vecs = (0L until 40L)
      .map(i => (i, Seq((i % 7).toDouble, (i % 3).toDouble)))
      .toDF("id", "v")
    val full = Similarity.kmeansTwoLevelAssign(vecs, "id", "v",
        kCoarse = 2, kFine = 2, itersCoarse = 2, itersFine = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val sampled = Similarity.kmeansTwoLevelAssignSampled(vecs, "id", "v",
        kCoarse = 2, kFine = 2, itersCoarse = 2, itersFine = 2,
        maxFitRows = 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(sampled.toSeq === full.toSeq)
  }

  test("sampled fit: partitioning-invariant sample, total serve, bounded scan") {
    val vecs = (0L until 60L)
      .map(i => (i, Seq((i * 17 % 11).toDouble, (i * 5 % 13).toDouble)))
      .toDF("id", "v")
    val sampleA = Similarity.fitSample(vecs, "id", 16, "km")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val sampleB = Similarity.fitSample(vecs.repartition(7), "id", 16, "km")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // The md5-ranked top-N is a property of the DATA, not the layout.
    assert(sampleA === sampleB)
    assert(sampleA.size === 16)
    val out = Similarity.kmeansTwoLevelAssignSampled(vecs, "id", "v",
      kCoarse = 2, kFine = 2, itersCoarse = 2, itersFine = 2,
      maxFitRows = 16)
    // serve is TOTAL over the corpus even though training saw 16 rows
    assert(out.count() === 60L)
    assert(out.select("id").distinct().count() === 60L)
    // and the model really is the sample-trained one
    val (coarse, fine) = Similarity.kmeansTwoLevelModel(
      Similarity.fitSample(vecs, "id", 16, "km"), "id", "v", 2, 2, 2, 2)
    val viaModel = Similarity.kmeansTwoLevelServe(vecs, "id", "v",
        coarse, fine, kFine = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(out.select("id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq === viaModel)
  }

  test("semDeDupParamsBounded keeps auto-k seedable inside the fit budget") {
    // Small corpus: the default target already fits — unchanged.
    assert(Similarity.semDeDupParamsBounded(1000L, 65536L)
      === ((Similarity.semDeDupParams(1000L), 64)))
    // Corpus past target*maxFitRows: the target grows to n/maxFitRows
    // and k lands exactly at the budget boundary.
    val (k, eff) = Similarity.semDeDupParamsBounded(10000000L, 10000L)
    assert(eff === 1000 && k === 10000)
    assert(k <= 10000)
    // The pair budget still refuses at the EFFECTIVE target: 1e9 docs
    // in 1e4 fit rows means 1e5-member clusters — 5e13 pairs, past 1e11.
    val e = intercept[IllegalArgumentException] {
      Similarity.semDeDupParamsBounded(1000000000L, 10000L)
    }
    assert(e.getMessage.contains("maxPairBudget"))
  }

  test("sampled semdedup refuses k past the fit sample and runs inside it") {
    val vecs = (0L until 50L)
      .map(i => (i, Seq(math.cos(i * 0.7), math.sin(i * 0.7))))
      .toDF("id", "v")
    // k (50/2=25 clusters) > maxFitRows=10 — the sample cannot seed it
    val e = intercept[IllegalArgumentException] {
      Similarity.semDeDupWithinClusters(vecs, "id", "v", threshold = 0.95,
        targetClusterSize = 2, maxFitRows = 10)
    }
    assert(e.getMessage.contains("maxFitRows"))
    // with k inside the sample, the bounded-fit dedup completes and
    // keeps at least one representative per semantic component
    val kept = Similarity.semDeDupWithinClusters(vecs, "id", "v",
      threshold = 0.95, targetClusterSize = 16, maxFitRows = 20)
    assert(kept.count() >= 1 && kept.count() <= 50)
  }

  test("semDeDupAdmitBatch: admitted survivors catch later batches' twins") {
    // Two well-separated blobs; reps 0 and 10 form the stored index.
    val corpus = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.001)),
      (10L, Seq(0.0, 1.0)), (11L, Seq(0.001, 1.0))
    ).toDF("id", "v")
    val (coarse, fine) = Similarity.kmeansTwoLevelModel(corpus, "id", "v",
      kCoarse = 2, kFine = 1, itersCoarse = 3, itersFine = 1)
    val idx0 = Similarity.semDeDupIndexFromModel(corpus, "id", "v",
      coarse, fine, kFine = 1, threshold = 0.9).localCheckpoint()
    // Batch 1: a NOVEL direction (cosine ~0.7 to both reps — clean) and
    // a near-copy of rep 0 (dropped against idx0).
    val b1 = Seq(
      (100L, Seq(1.0, 1.0)), (101L, Seq(1.0, 0.0005))
    ).toDF("id", "v")
    val (p1, a1) = Similarity.semDeDupAdmitBatch(b1, "id", "v",
      coarse, fine, 1, idx0, threshold = 0.9)
    assert(p1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((101L, 0L)))
    val adm1 = a1.localCheckpoint()
    assert(adm1.select("id").collect().map(_.getLong(0)).toSet === Set(100L))
    // Batch 2: the twin of batch 1's ADMITTED row. Frozen index keeps
    // it; the grown index drops it against 100 — the whole point.
    val b2 = Seq((200L, Seq(1.0, 1.0))).toDF("id", "v")
    val frozen = Similarity.semDeDupPairsAgainstIndex(b2, "id", "v",
      coarse, fine, 1, idx0, threshold = 0.9)
    assert(frozen.count() === 0L)
    val grown = idx0.unionByName(adm1)
    val (p2, a2) = Similarity.semDeDupAdmitBatch(b2, "id", "v",
      coarse, fine, 1, grown, threshold = 0.9)
    assert(p2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((200L, 100L)))
    assert(a2.count() === 0L)
  }

  test("inline fine tier fails loudly on dim-drifted query vectors") {
    // A 3-element query against a dim-2 model: the expression must
    // refuse (the join plan's zip_with would null-pad — two tiers
    // silently disagreeing on malformed input is the failure mode).
    val sharded = Seq((0L, Seq(0L, 0L, 0L), 0)).toDF("id", "qv", "shard")
    val cents = Seq((0, 0, Seq(0L, 0L))).toDF("shard", "fcl", "cv")
    val e = intercept[Exception] {
      Similarity.fineArgminServe(sharded, cents, kCoarse = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("dim-drifted input")))
  }
}
