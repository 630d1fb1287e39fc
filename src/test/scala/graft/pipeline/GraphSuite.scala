package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.xml.SparkTestSession

class GraphSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Total = 1000000000000L

  /** Scala replay of the documented integer recurrence. */
  private def replay(
      edges: Seq[(String, String)], iterations: Int, damping: Int = 850): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = nodes.size.toLong
    val r0 = Total / n
    val base = ((1000 - damping) * r0) / 1000
    var ranks = nodes.map(_ -> r0).toMap
    for (_ <- 1 to iterations) {
      val in = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => ranks(src) / outdeg(src) }.sum
      }
      ranks = nodes.map(v => v -> (base + (damping * in.getOrElse(v, 0L)) / 1000)).toMap
    }
    ranks
  }

  private def run(edges: Seq[(String, String)], iterations: Int): Map[String, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iterations)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def tri(edges: Seq[(String, String)]): Map[String, (Long, Long, Long)] =
    Graph.triangleCounts(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("triangleCounts: K4 — every node in 3 triangles, coefficient 1") {
    val k4 = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield a -> b
    val r = tri(k4)
    assert(r.keySet === Set("a", "b", "c", "d"))
    r.values.foreach { case (deg, t, cc) =>
      assert(deg === 3L); assert(t === 3L); assert(cc === 1000000L)
    }
  }

  test("triangleCounts: path has none; triangle+pendant counts per node") {
    assert(tri(Seq("a" -> "b", "b" -> "c")).values.forall(_._2 == 0L))
    val r = tri(Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d"))
    assert(r("a") === ((2L, 1L, 1000000L)))
    assert(r("b") === ((2L, 1L, 1000000L)))
    assert(r("c") === ((3L, 1L, 333333L))) // 2e6·1 div (3·2)
    assert(r("d") === ((1L, 0L, 0L)))
  }

  test("triangleCounts: reverse duplicates, parallel edges, self-loops collapse") {
    val messy = Seq("a" -> "b", "b" -> "a", "a" -> "b", "a" -> "a",
      "b" -> "c", "c" -> "a")
    val r = tri(messy)
    assert(r.values.forall { case (deg, t, cc) =>
      deg == 2L && t == 1L && cc == 1000000L })
  }

  test("triangleCounts: hub star closes only where a rim edge exists") {
    val star = Seq("h" -> "s1", "h" -> "s2", "h" -> "s3", "h" -> "s4",
      "h" -> "s5", "s1" -> "s2")
    val r = tri(star)
    assert(r("h") === ((5L, 1L, 100000L))) // 2e6·1 div (5·4)
    assert(r("s1")._2 === 1L && r("s2")._2 === 1L)
    assert(r("s3")._2 === 0L && r("s4")._2 === 0L && r("s5")._2 === 0L)
  }

  test("pageRank matches the integer recurrence replay on a cyclic graph") {
    val edges = Seq(
      "a" -> "b", "b" -> "c", "c" -> "a", // 3-cycle
      "d" -> "a", "d" -> "b", // fan-out
      "e" -> "a") // e is a source, a is popular
    for (iters <- Seq(1, 3, 5)) {
      assert(run(edges, iters) === replay(edges, iters), s"iters=$iters")
    }
  }

  test("popular node outranks sources; sinks keep only the base share") {
    val edges = Seq("a" -> "hub", "b" -> "hub", "c" -> "hub", "hub" -> "out")
    val ranks = run(edges, 5)
    assert(ranks("hub") > ranks("a"))
    assert(ranks("out") > ranks("a")) // fed by hub
    // a, b, c have no in-edges: exactly the damped base share
    assert(ranks("a") === ranks("b") && ranks("b") === ranks("c"))
  }

  test("parallel edges count once and null endpoints drop") {
    val dup = Seq("a" -> "b", "a" -> "b", "a" -> "c")
    assert(run(dup, 3) === replay(Seq("a" -> "b", "a" -> "c"), 3))
    val withNull = Seq(("a", "b"), ("a", null), (null, "b"))
      .toDF("src", "dst")
    val ranks = Graph.pageRank(withNull, "src", "dst", 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks.keySet === Set("a", "b"))
    assert(ranks === replay(Seq("a" -> "b"), 2))
  }

  test("dangling mass is dropped: totals shrink but stay comparable") {
    val edges = Seq("a" -> "sink", "b" -> "sink")
    val ranks = run(edges, 5)
    // sink never redistributes, so total mass is below Total but positive
    val total = ranks.values.sum
    assert(total > 0 && total < Total)
    assert(ranks("sink") > ranks("a"))
  }

  test("rejects bad parameters") {
    val e = Seq("a" -> "b").toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(e, "src", "dst", 0))
    intercept[IllegalArgumentException](
      Graph.pageRank(e, "src", "dst", 1, dampingPermille = 1001))
    intercept[IllegalArgumentException](
      Graph.pageRankRedistributing(e, "src", "dst", 0))
  }

  /** Scala replay of the redistributing recurrence (dangling mass shared). */
  private def replayRedist(
      edges: Seq[(String, String)], iterations: Int, damping: Int = 850): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = nodes.size.toLong
    val r0 = Total / n
    val base = ((1000 - damping) * r0) / 1000
    var ranks = nodes.map(_ -> r0).toMap
    for (_ <- 1 to iterations) {
      val dang = nodes.filterNot(outdeg.contains).map(ranks).sum
      val in = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => ranks(src) / outdeg(src) }.sum
      }
      ranks = nodes.map(v =>
        v -> (base + (damping * (in.getOrElse(v, 0L) + dang / n)) / 1000)).toMap
    }
    ranks
  }

  private def runRedist(edges: Seq[(String, String)], iterations: Int): Map[String, Long] =
    Graph.pageRankRedistributing(edges.toDF("src", "dst"), "src", "dst", iterations)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("redistributing variant matches its recurrence replay, sinks included") {
    val edges = Seq(
      "a" -> "b", "b" -> "c", "c" -> "a",
      "d" -> "a", "e" -> "sink", "a" -> "sink") // sink holds dangling mass
    for (iters <- Seq(1, 3, 5)) {
      assert(runRedist(edges, iters) === replayRedist(edges, iters), s"iters=$iters")
    }
  }

  test("redistributing variant conserves mass up to truncation remainders") {
    val edges = Seq("a" -> "sink", "b" -> "sink", "sink2" -> "a", "b" -> "sink2")
    val iters = 5
    val total = runRedist(edges, iters).values.sum
    val nodes = 4L
    // each node loses < 1 unit per div per iteration: base div, contrib
    // divs, dangling div — bound loosely by 3 units/node/iteration
    assert(total <= Total)
    assert(total > Total - 3 * nodes * iters, s"total=$total")
  }

  test("without sinks, both variants agree exactly") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "b")
    val plain = run(edges, 4)
    assert(plain === runRedist(edges, 4))
    // unit weights on a graph without parallel edges: (rank div outdeg) · 1
    val unit = Graph.pageRankWeighted(
        edges.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(unit === plain)
    // every node seeded: the teleport set is the whole node set
    val everyNode = Graph.pageRankPersonalized(edges.toDF("src", "dst"), "src",
        "dst", Seq("a", "b", "c").toDF("source"), "source", iterations = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(everyNode === plain)
  }

  /** Scala replay of the personalized recurrence (seed-only teleport). */
  private def replayPersonalized(
      edges: Seq[(String, String)], seeds: Set[String], iterations: Int,
      damping: Int = 850): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val sn = nodes.count(seeds)
    val share = Total / sn
    val base = ((1000 - damping) * share) / 1000
    var ranks = nodes.map(v => v -> (if (seeds(v)) share else 0L)).toMap
    for (_ <- 1 to iterations) {
      val in = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => ranks(src) / outdeg(src) }.sum
      }
      ranks = nodes.map(v => v ->
        ((if (seeds(v)) base else 0L) + (damping * in.getOrElse(v, 0L)) / 1000)).toMap
    }
    ranks
  }

  test("personalized pageRank: seed-only teleport matches the replay; absent seeds refused") {
    val edges = Seq(
      "s1" -> "a", "s2" -> "a", "a" -> "b", "b" -> "a", "x" -> "y")
    val seeds = Seq("s1", "s2", "ghost").toDF("source") // ghost not in graph
    val got = Graph.pageRankPersonalized(edges.toDF("src", "dst"), "src", "dst",
        seeds, "source", iterations = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === replayPersonalized(edges, Set("s1", "s2"), 4))
    // mass never reaches the disconnected x→y island: exact zero
    assert(got("x") === 0L && got("y") === 0L)
    // seeds hold teleport mass; the node they both link to outranks them
    assert(got("a") > got("s1"))
    // a seed list with NO graph survivor is refused loudly
    intercept[IllegalArgumentException](
      Graph.pageRankPersonalized(edges.toDF("src", "dst"), "src", "dst",
        Seq("ghost").toDF("source"), "source", 2))
  }

  test("hyperBall: register state and estimate replay the documented algorithm") {
    // counter_r(v) = union of the md5-derived singletons over ball(v, r),
    // so a BFS + per-register max replays the whole algorithm exactly.
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "e", "e" -> "a")
    val radius = 2
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def regOf(s: String): Int = Integer.parseInt(md5hex(s).substring(0, 1), 16)
    def rhoOf(s: String): Int = {
      val v60 = java.lang.Long.parseLong(md5hex(s).substring(1, 16), 16)
      if (v60 == 0L) 61 else 61 - (64 - java.lang.Long.numberOfLeadingZeros(v60))
    }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    def ball(v: String, r: Int): Set[String] = {
      var cur = Set(v)
      for (_ <- 1 to r)
        cur = cur ++ cur.flatMap(u => edges.filter(_._1 == u).map(_._2))
      cur
    }
    def expected(v: String): (Long, Long) = {
      val regs = ball(v, radius).toSeq
        .map(w => regOf(w) -> rhoOf(w))
        .groupBy(_._1).map { case (r, vs) => r -> vs.map(_._2).max }
      val zeros = 16 - regs.size
      val s = regs.values.map(x => BigInt(1) << (61 - x)).sum +
        BigInt(zeros) * (BigInt(1) << 61)
      val raw = 0.673 * 256.0 * 2305843009213693952.0 / s.toDouble
      val est = if (raw <= 40.0 && zeros > 0) 16.0 * math.log(16.0 / zeros) else raw
      (regs.size.toLong, math.round(est * 1e6))
    }
    val out = Graph.hyperBall(edges.toDF("src", "dst"), "src", "dst", radius)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet === nodes.toSet)
    nodes.foreach { v => assert(out(v) === expected(v), s"node $v") }
    // a bigger ball never shrinks the estimate's register count
    val out3 = Graph.hyperBall(edges.toDF("src", "dst"), "src", "dst", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    nodes.foreach(v => assert(out3(v) >= out(v)._1))
    intercept[IllegalArgumentException](
      Graph.hyperBall(edges.toDF("src", "dst"), "src", "dst", 0))
  }

  test("20 iterations under the per-round lineage rule run and match the replay") {
    val edges = Seq(
      "a" -> "b", "b" -> "c", "c" -> "a", "d" -> "a", "a" -> "d", "e" -> "sink")
    val got = runRedist(edges, 20)
    assert(got === replayRedist(edges, 20))
    // every variant checkpoints every round, which must not change values
    assert(run(edges, 20) === replay(edges, 20))
    val pers = Graph.pageRankPersonalized(edges.toDF("src", "dst"), "src",
        "dst", Seq("a", "e").toDF("source"), "source", iterations = 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pers === replayPersonalized(edges, Set("a", "e"), 20))
  }

  test("kCore peels tails and keeps the dense core; fixed rounds replay") {
    // Triangle {1,2,3} + a path 3-4-5 hanging off it + isolated pair 6-7.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (6L, 7L),
      (2L, 1L), (1L, 1L) // reverse + self-loop must collapse away
    ).toDF("src", "dst")
    val core2 = Graph.kCore(edges, "src", "dst", k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Round 1 drops 5 (deg 1) and 6,7 (deg 1); round 2 drops 4 (now deg 1);
    // the triangle survives with in-core degree 2 each.
    assert(core2 === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=1, 1 round: only the self-loop/duplicate cleanup applies.
    val core1 = Graph.kCore(edges, "src", "dst", k = 1, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core1 === Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L,
      5L -> 1L, 6L -> 1L, 7L -> 1L))
    // Insufficient rounds stop early - deterministic, documented.
    val oneRound = Graph.kCore(edges, "src", "dst", k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneRound === Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
  }

  test("hopDistances: first-reached hop wins, isolated seed kept, horizon honored") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 1L), (10L, 11L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 100L).toDF("seed") // 100 is not in the graph
    val got = Graph.hopDistances(edges, "src", "dst", seeds, "seed", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 100L -> 0, 2L -> 1, 3L -> 2))
  }

  test("commonNeighborScores: square diagonals score 2, existing edges excluded") {
    // Square 1-2-3-4-1: diagonals (1,3) and (2,4) share two neighbors
    // each and are NOT edges; every edge pair shares none here.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = Graph.commonNeighborScores(edges, "src", "dst", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet === Set((1L, 3L, 2L), (2L, 4L, 2L)))
    // adding the diagonal removes it from the candidates
    val withDiag = edges.unionByName(Seq((1L, 3L)).toDF("src", "dst"))
    val got2 = Graph.commonNeighborScores(withDiag, "src", "dst", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got2.contains((1L, 3L)))
  }

  test("commonNeighborScores maxDegree: hub adjacency truncates to smallest ids") {
    // Star: hub 0 — spokes 1..5. Uncapped: all C(5,2)=10 spoke pairs
    // share the hub. maxDegree=3 keeps the hub's 3 SMALLEST neighbors
    // {1,2,3}, so only their 3 pairs survive — the documented recall
    // trade, deterministically.
    val edges = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    val full = Graph.commonNeighborScores(edges, "src", "dst", k = 100)
    assert(full.count() === 10L)
    val capped = Graph.commonNeighborScores(edges, "src", "dst",
        k = 100, maxDegree = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped === Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)))
    // Spoke adjacencies (degree 1) are untouched by the cap; maxDegree
    // large enough reproduces the exact answer.
    val wide = Graph.commonNeighborScores(edges, "src", "dst",
      k = 100, maxDegree = 5)
    assert(wide.count() === 10L)
  }

  /** Scala replay of the weighted recurrence: parallel edges sum, edges
    * with a non-positive weight drop. */
  private def replayWeighted(
      edges: Seq[(String, String, Long)], iterations: Int,
      damping: Int = 850): Map[String, Long] = {
    val w = edges.filter(_._3 > 0).groupBy(e => (e._1, e._2))
      .map { case (k, es) => k -> es.map(_._3).sum }.toSeq
    val nodes = (w.map(_._1._1) ++ w.map(_._1._2)).distinct
    val wout = w.groupBy(_._1._1).map { case (k, es) => k -> es.map(_._2).sum }
    val r0 = Total / nodes.size
    val base = ((1000 - damping) * r0) / 1000
    var ranks = nodes.map(_ -> r0).toMap
    for (_ <- 1 to iterations) {
      val in = w.groupBy(_._1._2).map { case (dst, es) =>
        dst -> es.map { case ((src, _), wt) => ranks(src) / wout(src) * wt }.sum
      }
      ranks = nodes.map(v => v -> (base + (damping * in.getOrElse(v, 0L)) / 1000)).toMap
    }
    ranks
  }

  test("pageRankWeighted matches its recurrence replay: sinks, summed parallel edges") {
    val edges = Seq(
      ("a", "b", 2L), ("a", "b", 3L), // parallel: one edge of weight 5
      ("a", "c", 1L), ("b", "c", 4L), ("b", "sink", 3L), ("c", "a", 2L),
      ("c", "sink", 7L), ("d", "a", 1L), ("d", "c", 0L), ("c", "d", -2L))
    val df = edges.toDF("src", "dst", "w")
    for (iters <- Seq(1, 3, 5)) {
      val got = Graph.pageRankWeighted(df, "src", "dst", "w", iters)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === replayWeighted(edges, iters), s"iters=$iters")
    }
  }

  test("pageRankWeighted: hand-replayed integer seams on a 3-node graph") {
    // A->B w1, A->C w3, B->A w1, C->A w1; N=3, r0 = Total div 3.
    val e = Seq(("A", "B", 1L), ("A", "C", 3L), ("B", "A", 1L), ("C", "A", 1L))
      .toDF("src", "dst", "w")
    val got = Graph.pageRankWeighted(e, "src", "dst", "w", iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val r0 = Total / 3          // 333333333333
    val base = 150L * r0 / 1000 // 49999999999
    val uA = r0 / 4
    assert(got("A") === base + 850L * (r0 + r0) / 1000)
    assert(got("B") === base + 850L * (uA * 1) / 1000)
    assert(got("C") === base + 850L * (uA * 3) / 1000)
    // zero/negative-weight edges carry no mass and don't create nodes
    val e2 = Seq(("A", "B", 1L), ("A", "Z", 0L)).toDF("src", "dst", "w")
    val nodes = Graph.pageRankWeighted(e2, "src", "dst", "w", iterations = 1)
      .collect().map(_.getString(0)).toSet
    assert(nodes === Set("A", "B"))
  }

  private val SampleGraph = Seq(
    "a" -> "b", "b" -> "c", "c" -> "a", "d" -> "a", "d" -> "b", "e" -> "sink", "a" -> "sink")

  /** Jobs `body` runs, and how many of its stages shuffle [[Graph.EdgeRows]].
    * Listener events arrive asynchronously but in order, so a marked
    * sentinel job closes the window. */
  private def sparkWork(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val edgeShuffles = new java.util.concurrent.atomic.AtomicInteger
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("graft.sentinel") != null)
          closed.countDown()
        else jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (s.stageInfo.rddInfos.exists(_.name == Graph.EdgeRows)) edgeShuffles.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.sentinel", null)
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      (jobs.get, edgeShuffles.get)
    } finally sc.removeSparkListener(listener)
  }

  test("pageRank rounds cost at most 2 jobs each over a fixed set-up; edges shuffle once") {
    // Set-up: the prep's query stages, the node count, the caller's
    // collect. Rounds add no plan, only RDD work; the redistributing
    // variant adds one dangling-mass job per round.
    val SetUp = 6
    for ((name, variant, replayed) <- Seq(
        ("pageRankRedistributing",
          (n: Int) => runRedist(SampleGraph, n), replayRedist(SampleGraph, 5)),
        ("pageRank", (n: Int) => run(SampleGraph, n), replay(SampleGraph, 5)))) {
      var got = Map.empty[String, Long]
      val (jobs5, shuffles5) = sparkWork { got = variant(5) }
      val (jobs1, shuffles1) = sparkWork(variant(1))
      assert(got === replayed, name)
      assert(jobs5 <= SetUp + 2 * 5, s"$name: $jobs5 jobs for 5 rounds")
      assert(jobs5 - jobs1 <= 2 * 4, s"$name: $jobs1 jobs for 1 round, $jobs5 for 5")
      assert(shuffles5 === 1 && shuffles1 === 1,
        s"$name: edge rows shuffled $shuffles1 times in 1 round, $shuffles5 in 5")
    }
  }

  /** Every PageRank variant over [[SampleGraph]] with its node ids
    * re-encoded by `enc`, decoded back by `dec`, next to its string replay. */
  private def variantsOver(enc: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      dec: Any => String): Seq[(String, Map[String, Long], Map[String, Long])] = {
    import org.apache.spark.sql.functions.{col, lit}
    val df = SampleGraph.toDF("src", "dst")
      .select(enc(col("src")).as("src"), enc(col("dst")).as("dst"))
    val seeds = Seq("a", "e").toDF("seed").select(enc(col("seed")).as("seed"))
    def decoded(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(row => dec(row.get(0)) -> row.getLong(1)).toMap
    Seq(
      ("pageRank", decoded(Graph.pageRank(df, "src", "dst", 4)), replay(SampleGraph, 4)),
      ("pageRankRedistributing", decoded(Graph.pageRankRedistributing(df, "src", "dst", 4)),
        replayRedist(SampleGraph, 4)),
      ("pageRankWeighted",
        decoded(Graph.pageRankWeighted(df.withColumn("w", lit(1L)), "src", "dst", "w", 4)),
        replayWeighted(SampleGraph.map { case (a, b) => (a, b, 1L) }, 4)),
      ("pageRankPersonalized",
        decoded(Graph.pageRankPersonalized(df, "src", "dst", seeds, "seed", 4)),
        replayPersonalized(SampleGraph, Set("a", "e"), 4)))
  }

  test("long and binary node ids: every variant matches the replay, no node splits") {
    import org.apache.spark.sql.functions.{element_at, typedLit}
    val ids = (SampleGraph.map(_._1) ++ SampleGraph.map(_._2)).distinct
      .zipWithIndex.map { case (v, i) => v -> 1000L * i }.toMap
    val byId = ids.map(_.swap)
    val longs = variantsOver(element_at(typedLit(ids), _), x => byId(x.asInstanceOf[Long]))
    // every row reads its own array: content-equal ids must still be one node
    val binary = variantsOver(_.cast("binary"),
      x => new String(x.asInstanceOf[Array[Byte]], "UTF-8"))
    for ((name, got, want) <- longs ++ binary) assert(got === want, name)
  }

  test("node columns SQL equates by a normalizing or structural rule are refused") {
    import org.apache.spark.sql.functions._
    val base = SampleGraph.toDF("src", "dst")
    for ((kind, e) <- Seq(
        "double" -> base.select(lit(0.0).as("src"), lit(-0.0).as("dst")),
        "struct" -> base.select(struct(col("src").as("id")).as("src"),
          struct(col("dst").as("id")).as("dst")),
        "array" -> base.select(array(col("src")).as("src"), array(col("dst")).as("dst")),
        "collated string" -> base.select(collate(col("src"), "UTF8_LCASE").as("src"),
          collate(col("dst"), "UTF8_LCASE").as("dst")))) {
      val err = intercept[IllegalArgumentException](Graph.pageRank(e, "src", "dst", 1))
      assert(err.getMessage.contains(e.schema("src").dataType.catalogString), s"$kind: $err")
    }
  }

  test("output schema and the empty graph are unchanged by the round loop") {
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType.simpleString, f.nullable)).toSeq
    val strings = SampleGraph.toDF("src", "dst")
    val longs = Seq(1L -> 2L, 2L -> 3L).toDF("src", "dst")
    assert(shape(Graph.pageRank(strings, "src", "dst", 2)) ===
      Seq(("node", "string", true), ("rank_ppt", "bigint", true)))
    assert(shape(Graph.pageRankRedistributing(longs, "src", "dst", 2)) ===
      Seq(("node", "bigint", false), ("rank_ppt", "bigint", true)))
    val empty = Graph.pageRank(longs.where("src < 0"), "src", "dst", 2)
    assert(shape(empty) === Seq(("node", "bigint", false), ("rank_ppt", "bigint", false)))
    assert(empty.count() === 0L)
  }

  test("60 iterations: deep runs finish and match the replay") {
    val deep = SampleGraph :+ ("sink" -> "sink2")
    assert(runRedist(deep, 60) === replayRedist(deep, 60))
    val weighted = deep.zipWithIndex.map { case ((a, b), i) => (a, b, 1L + i % 3) }
    val got = Graph.pageRankWeighted(weighted.toDF("src", "dst", "w"), "src", "dst", "w", 60)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === replayWeighted(weighted, 60))
  }
}
