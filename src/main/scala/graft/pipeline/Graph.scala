package graft.pipeline

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/**
 * Link-graph centrality for corpus curation: web-scale training sets
 * weight documents by the standing of their host (the CommonCrawl
 * harmonic/PageRank-centrality signal), and a crawler's frontier
 * prioritizes by it. This is the batch fixed-point computation, done the
 * Spark way: per-node state partitioned by node, one co-partitioned pass
 * over the edges + one dst aggregate per iteration — never an adjacency
 * matrix, never a driver-side copy of the graph.
 *
 * Determinism: all arithmetic is INTEGER (rank mass in parts-per-1e12,
 * damping in permille, truncating `div` at every seam — the q107
 * micro-nat seam rule applied to a fixed point). Float PageRank differs
 * across engines in the last ulps; this one replays bit-for-bit in any
 * engine with 64-bit integers, so a DuckDB chain of per-iteration CTEs
 * can gate it. Truncation loss stays in the dropped remainders (bounded
 * by one unit per node per iteration) — acceptable for a ranking signal,
 * and exactly reproducible.
 *
 * Scale shape per iteration: all four PageRank variants run one kernel
 * ([[rankKernel]]). Its prep (edge cleaning or weighting, seeds, degrees)
 * is DataFrame code; its rounds run co-partitioned RDDs in the shape of
 * Spark's own PageRank example — the edge rows shuffle once per call and
 * stay put, and a round is one partition-local pass over them, one
 * `reduceByKey` on dst, and one partition-local zip back onto the nodes,
 * over compact (node, long) pairs. Each round's state is
 * `localCheckpoint`ed, so a task's lineage is one round deep at any
 * iteration count, and Catalyst never plans a round at all.
 */
object Graph {

  private val Total = 1000000000000L // rank mass: parts per 1e12

  /** Deduplicated non-null edge list as (__src, __dst). */
  private def cleanEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .where(col("__src").isNotNull && col("__dst").isNotNull)
      .distinct()

  /**
   * Fixed-iteration damped PageRank over a directed edge list. Returns
   * (node, rank_ppt) — rank in parts per 1e12 of the total mass. Edges
   * are deduplicated (parallel edges count once, like the classic
   * formulation on the link GRAPH); self-loops participate like any
   * edge. Dangling (sink) mass is DROPPED, not redistributed — the
   * variant with the simplest exact replay — so ranks sum to slightly
   * under the total; comparisons between nodes (the use case) are
   * unaffected. For the standard redistributing formulation use
   * [[pageRankRedistributing]].
   *
   * rank_0(v) = Total div N
   * rank_{k+1}(v) = ((1000−d) · (Total div N)) div 1000
   *               + (d · Σ_{u→v} (rank_k(u) div outdeg(u))) div 1000
   */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      dampingPermille: Int = 850): DataFrame =
    rankKernel(unitEdges(edges, srcCol, dstCol), None,
      redistribute = false, iterations, dampingPermille)

  /**
   * Weighted damped PageRank: mass leaves a node proportionally to edge
   * WEIGHT instead of equally per edge — the formulation TextRank
   * actually specifies (co-occurrence counts as weights) and the link-
   * graph variant when edges carry traffic/trust. Parallel edges SUM
   * their weights first (the weighted analogue of [[pageRank]]'s edge
   * dedup); weights must be positive integers — zero/negative/null
   * weights drop with the edge (no mass can flow over them).
   *
   * rank_{k+1}(v) = ((1000−d) · (Total div N)) div 1000
   *   + (d · Σ_{u→v} ((rank_k(u) div W_u) · w_uv)) div 1000
   * with W_u = Σ of u's out-weights. The per-unit quotient truncates
   * once per source node (the same remainder-drop as the unweighted
   * div by outdeg), then scales by the exact integer weight — every
   * term stays inside int64 because Σ w_uv·(rank div W_u) ≤ rank.
   */
  def pageRankWeighted(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iterations: Int,
      dampingPermille: Int = 850): DataFrame =
    rankKernel(
      edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
          col(weightCol).cast("long").as("__w"))
        .where(col("__src").isNotNull && col("__dst").isNotNull &&
          col("__w") > 0L)
        .groupBy(col("__src"), col("__dst"))
        .agg(sum(col("__w")).as("__w")),
      None, redistribute = false, iterations, dampingPermille)

  /**
   * Personalized PageRank: teleport mass returns to a SEED SET instead
   * of every node — the link-structure "expand from a curated set"
   * primitive (seed-and-expand corpus curation, TrustRank-style host
   * scoring). Same integer seams as [[pageRank]]; only the teleport
   * terms change, to nonzero for seeds only:
   *
   * rank_0(v) = [v ∈ S] · (Total div |S|)
   * rank_{k+1}(v) = [v ∈ S] · ((1000−d) · (Total div |S|)) div 1000
   *              + (d · Σ_{u→v} (rank_k(u) div outdeg(u))) div 1000
   *
   * Seeds are intersected with the graph's node set first (|S| counts
   * the survivors; seeds naming absent nodes are ignored, and a seed
   * list with no survivor is refused); dangling mass drops, as in
   * [[pageRank]]. Seeds ride a DataFrame, not a driver list — a seed
   * set can be millions of curated hosts.
   */
  def pageRankPersonalized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int,
      dampingPermille: Int = 850): DataFrame =
    rankKernel(unitEdges(edges, srcCol, dstCol),
      Some(seeds.select(col(seedCol).as("node"))
        .where(col("node").isNotNull).distinct()),
      redistribute = false, iterations, dampingPermille)

  /**
   * The standard PageRank formulation: dangling (sink) mass is
   * REDISTRIBUTED equally to every node each iteration instead of
   * dropped, so total mass is conserved up to truncation remainders.
   * The dangling sum is an exact int64 total (one driver-side `Long` per
   * round) and every node's share is one truncating `div`:
   *
   * rank_{k+1}(v) = ((1000−d) · (Total div N)) div 1000
   *   + (d · (Σ_{u→v} (rank_k(u) div outdeg(u)) + dangling_k div N)) div 1000
   * with dangling_k = Σ_{sinks u} rank_k(u).
   */
  def pageRankRedistributing(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      dampingPermille: Int = 850): DataFrame =
    rankKernel(unitEdges(edges, srcCol, dstCol), None,
      redistribute = true, iterations, dampingPermille)

  /** [[cleanEdges]] with unit weights: unweighted PageRank is weighted
    * PageRank with every w = 1, and `(rank div outdeg) · 1` is the same
    * integer, so both run the one [[rankKernel]]. */
  private def unitEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    cleanEdges(edges, srcCol, dstCol).withColumn("__w", lit(1L))

  /**
   * The one PageRank recurrence behind all four variants, over weighted
   * edges (__src, __dst, __w) with w > 0 and one row per pair:
   *
   * rank_0(v) = [v ∈ S] · (Total div |S|)
   * rank_{k+1}(v) = [v ∈ S] · ((1000−d) · (Total div |S|)) div 1000
   *   + (d · (Σ_{u→v} (rank_k(u) div W_u) · w_uv
   *           [+ dangling_k div N])) div 1000
   * with S = `seeds` ∩ nodes, or every node when `seeds` is None, and
   * the bracketed dangling term only when `redistribute`.
   *
   * Shape. The prep stays in DataFrames: the weighted edges are
   * materialized once (lazy `localCheckpoint`), and the node frame
   * (node, W_u, [v ∈ S]) derives from them. The rounds run on RDDs
   * co-partitioned by one `HashPartitioner` over the session's shuffle
   * partitions: the nodes in one block per partition (materialized by
   * the one driver-side job that counts N and |S|), the rank state as
   * one array per partition aligned with its block, and the edge rows
   * keyed by src, shuffled once. A round is a partition-local pass that
   * hashes the partition's (node, rank div W_u) and streams the edge rows
   * against it, one `reduceByKey` on dst into the same partitioner, and a
   * partition-local zip of the sums back onto the node block. The
   * dangling sum is one driver-side `Long` per round, read from the
   * materialized state (so the redistributing variant runs one job per
   * round; the others run none until the caller's action). Every round's
   * state is `localCheckpoint`ed and a shuffle separates consecutive
   * rounds, so no task's lineage holds more than one round, and once
   * materialized a state truncates everything before it: the first
   * action computes each round once, later actions read the last state.
   * An empty graph returns an empty (node, rank_ppt) frame.
   */
  private def rankKernel(
      weightedEdges: DataFrame,
      seeds: Option[DataFrame],
      redistribute: Boolean,
      iterations: Int,
      dampingPermille: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampingPermille >= 0 && dampingPermille <= 1000,
      s"dampingPermille must be in [0, 1000], got $dampingPermille")
    val nodeType = nodesOf(weightedEdges).schema("node").dataType
    val key = nodeKey(nodeType)
    val e = weightedEdges.localCheckpoint(eager = false)
    val flagged = seeds.fold(nodesOf(e).withColumn("__tele", lit(true)))(s =>
      nodesOf(e).join(s.withColumn("__tele", lit(true)), Seq("node"), "left"))
    val frame = flagged
      .join(e.groupBy(col("__src").as("node")).agg(sum(col("__w")).as("__wout")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__wout"), lit(0L)).as("__wout"),
        coalesce(col("__tele"), lit(false)).as("__tele"))

    val spark = e.sparkSession
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val blocks = frame.queryExecution.toRdd
      .map(r => (key(r, 0), (r.getLong(1), r.getBoolean(2))))
      .partitionBy(part)
      .mapPartitions { it =>
        val ns = it.toArray
        Iterator.single(NodeBlock(ns.map(_._1), ns.map(_._2._1), ns.map(_._2._2)))
      }
      .localCheckpoint()
    val Array(n, sn, seedSinks) = blocks
      .map(b => Array(b.keys.length.toLong, b.tele.count(identity).toLong,
        b.keys.indices.count(i => b.tele(i) && b.wout(i) == 0L).toLong))
      .reduce((x, y) => x.zip(y).map { case (a, b) => a + b })
    if (sn == 0) {
      require(seeds.isEmpty, "no seed survives the intersection with the graph's nodes")
      return frame.select(col("node"), lit(0L).as("rank_ppt"))
    }
    val edges = e.select(col("__src").cast(nodeType), col("__dst").cast(nodeType), col("__w"))
      .queryExecution.toRdd
      .map(r => (key(r, 0), (key(r, 1), r.getLong(2))))
      .setName(EdgeRows)
      .partitionBy(part)
      .localCheckpoint()

    val share = Total / sn // Total, sn > 0: Scala / == SQL div here
    val base = (1000L - dampingPermille) * share / 1000L
    val d = dampingPermille.toLong
    var ranks: RDD[Array[Long]] = blocks.map(_.tele.map(t => if (t) share else 0L))
    var dangling = seedSinks * share // Σ_{sinks u} rank_0(u)
    for (k <- 1 to iterations) {
      val inflow = blocks.zipPartitions(ranks, edges) { (bs, rs, es) =>
        val (b, r) = (bs.next(), rs.next())
        val unit = new java.util.HashMap[Any, Long](2 * b.keys.length)
        for (i <- b.keys.indices if b.wout(i) > 0L) unit.put(b.keys(i), r(i) / b.wout(i))
        es.map { case (src, (dst, w)) => (dst, unit.get(src) * w) }
      }.reduceByKey(part, _ + _)
      val spread = if (redistribute) dangling / n else 0L
      ranks = blocks.zipPartitions(inflow) { (bs, in) =>
        val b = bs.next()
        val sums = new java.util.HashMap[Any, Long]
        in.foreach { case (v, s) => sums.put(v, s) }
        Iterator.single(Array.tabulate(b.keys.length) { i =>
          (if (b.tele(i)) base else 0L) + d * (sums.getOrDefault(b.keys(i), 0L) + spread) / 1000L
        })
      }.localCheckpoint()
      if (redistribute && k < iterations)
        dangling = blocks.zipPartitions(ranks) { (bs, rs) =>
          val (b, r) = (bs.next(), rs.next())
          Iterator.single(b.keys.indices.filter(b.wout(_) == 0L).map(r(_)).sum)
        }.reduce(_ + _)
    }

    val out = blocks.zipPartitions(ranks) { (bs, rs) =>
      val (b, r) = (bs.next(), rs.next())
      b.keys.indices.iterator.map(i => InternalRow(nodeValue(b.keys(i)), r(i)))
    }
    Bridge.internalCreateDataFrame(spark, out,
      StructType(Seq(frame.schema("node"), StructField("rank_ppt", LongType))))
  }

  /** The distinct endpoints of an edge list, as one `node` column. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("__src").as("node"))
      .unionByName(e.select(col("__dst").as("node")))
      .distinct()

  /** Name of the keyed edge rows before [[rankKernel]]'s one edge shuffle. */
  private[pipeline] val EdgeRows = "rankKernel edge rows by src"

  /** One partition's nodes in a fixed order: hash key, out-weight W_u
    * (0 for a sink) and whether the node is in the teleport set. */
  private final case class NodeBlock(keys: Array[Any], wout: Array[Long], tele: Array[Boolean])

  /** A binary node as a hash key: arrays hash and compare by identity,
    * SQL compares them by content. */
  private final case class BinaryNode(bytes: Array[Byte]) {
    override def equals(o: Any): Boolean = o match {
      case BinaryNode(other) => java.util.Arrays.equals(bytes, other)
      case _ => false
    }
    override def hashCode: Int = java.util.Arrays.hashCode(bytes)
  }

  /**
   * The round loop's hash key for a node value, such that two values are
   * one key exactly when Spark SQL's `=` makes them one node: UTF8String
   * (binary collation) and boxed integrals compare and hash by content,
   * binary rides [[BinaryNode]]. Types SQL equates through a normalizing
   * rule (floating −0.0/NaN, collated strings) or structurally (struct,
   * array, map, decimal) are refused, so no node ever splits in two.
   */
  private def nodeKey(t: DataType): (InternalRow, Int) => Any = t match {
    case s: StringType if s.collationId == StringType.collationId =>
      (r, i) => r.getUTF8String(i).clone()
    case ByteType | ShortType | IntegerType | LongType => (r, i) => r.get(i, t)
    case BinaryType => (r, i) => BinaryNode(r.getBinary(i))
    case other => throw new IllegalArgumentException(
      s"PageRank node columns of type ${other.catalogString} are not supported: " +
        "use string, integral or binary node ids")
  }

  private def nodeValue(k: Any): Any = k match {
    case BinaryNode(bytes) => bytes
    case v => v
  }

  /**
   * Multi-source BFS hop distances: (node, dist) for every node reachable
   * within `maxHops` directed hops of the seed set — the exact-distance
   * companion to [[pageRankPersonalized]]'s mass and [[hyperBall]]'s
   * cardinality estimate (crawl-frontier depth from trusted hosts,
   * "how far is this doc from curated content"). Seeds are distance 0,
   * whether or not they appear in the edge list (an isolated seed is
   * still a seed).
   *
   * Shape per hop: one frontier-keyed edge join, one distinct on the
   * new frontier, one anti-join against the known set — all on compact
   * (node) longs; the frontier shrinks to empty on converged graphs and
   * later rounds cost scheduling only. The known set is read twice per
   * round (anti-join + union), so lineage truncates every round.
   */
  def hopDistances(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = cleanEdges(edges, srcCol, dstCol)
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0))
      .localCheckpoint(eager = false)
    var frontier = dist.select("node")
    for (k <- 1 to maxHops) {
      val next = frontier.join(e, col("node") === col("__src"))
        .select(col("__dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("dist", lit(k))
        .localCheckpoint(eager = false)
      dist = dist.unionByName(next).localCheckpoint(eager = false)
      frontier = next.select("node")
    }
    dist
  }

  /**
   * Link prediction by common neighbors (the Liben-Nowell–Kleinberg
   * baseline): for every NON-adjacent undirected pair at distance 2, the
   * count of shared neighbors, global top-k by (score DESC, pair) — the
   * "which edges are missing" read behind entity-graph completion and
   * related-page suggestion. Wedges enumerate at their CENTER (adjacency
   * self-join, endpoint order a < b dedups each wedge once), candidate
   * pairs anti-join the edge set, the top-k is a bounded TakeOrdered.
   * Wedge volume is Σ C(deg, 2) — inherent to the definition, and a
   * single celebrity hub makes it quadratic. `maxDegree` is the in-code
   * answer (a scaladoc note is not a control): each wedge-CENTER's
   * adjacency truncates to its `maxDegree` smallest neighbor ids — a
   * deterministic, engine-replayable rule — bounding per-node wedges at
   * C(maxDegree, 2). The documented recall trade: pairs whose only
   * shared neighbors are capped-away hub spokes lose that evidence
   * (scores are computed on the truncated adjacency); the NON-adjacency
   * test still runs against the FULL edge set, so no returned pair is
   * ever a real edge. Truncation rides a bounded per-center heap
   * (map-side combined, maxDegree entries per node across the exchange,
   * no task sorts a hub-scale adjacency); node ids must stay within
   * double's 2^53 exact-integer range for the heap's score seam — doc
   * and entity ids do. maxDegree = 0 keeps the exact uncapped
   * definition.
   */
  def commonNeighborScores(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxDegree: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDegree >= 0, s"maxDegree must be >= 0, got $maxDegree")
    val und = cleanEdges(edges, srcCol, dstCol)
      .where(col("__src") =!= col("__dst"))
      .select(least(col("__src"), col("__dst")).as("a"),
        greatest(col("__src"), col("__dst")).as("b"))
      .distinct()
    val adjAll = und.select(col("a").as("x"), col("b").as("y"))
      .unionByName(und.select(col("b").as("x"), col("a").as("y")))
    val adj =
      if (maxDegree == 0) adjAll
      else adjAll.groupBy(col("x"))
        .agg(graft.functions.TopKFunctions.topk_by_score(
          -col("y").cast("double"), col("y"), maxDegree).as("__top"))
        .select(col("x"), explode(col("__top")).as("__nb"))
        .select(col("x"), col("__nb.neighbor_id").as("y"))
    val wedges = adj.as("l")
      .join(adj.as("r"),
        col("l.x") === col("r.x") && col("l.y") < col("r.y"))
      .select(col("l.y").as("a"), col("r.y").as("b"))
    wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"))
      .join(und, Seq("a", "b"), "left_anti")
      .orderBy(desc("common_neighbors"), asc("a"), asc("b"))
      .limit(k)
      .select(col("a").as("id_a"), col("b").as("id_b"),
        col("common_neighbors"))
  }

  /**
   * The HLL small-range/raw estimator over a node's register profile, in
   * integer micro-units — ONE SQL string shared verbatim between the
   * Spark plan and the DuckDB oracle (the BM25 convention), so the two
   * engines cannot drift on the double arithmetic. Columns in scope:
   * `__s` = Σ 2^(61−M_j) over SET registers plus 2^61 per zero register
   * (the 2^61-scaled integer form of Σ 2^−M_j — exact, no float
   * summation-order hazard; DECIMAL/HUGEINT), `__v` = number of zero
   * registers. m = 16 registers, α₁₆ = 0.673; small-range correction
   * `m·ln(m/V)` below 2.5m with V > 0, raw `α·m²/Σ` otherwise.
   */
  def hllEstimateSql: String =
    """CAST(round((CASE
      |  WHEN (CAST(673 AS DOUBLE) / 1000 * 256.0 * 2305843009213693952.0
      |        / CAST(__s AS DOUBLE)) <= 40.0 AND __v > 0
      |  THEN 16.0 * ln(16.0 / __v)
      |  ELSE CAST(673 AS DOUBLE) / 1000 * 256.0 * 2305843009213693952.0
      |       / CAST(__s AS DOUBLE)
      |  END) * 1e6, 0) AS BIGINT)""".stripMargin

  /**
   * HyperBall (Boldi–Vigna 2013): for every node, an estimate of
   * |ball(v, radius)| — how many nodes are reachable from v within
   * `radius` directed hops — via HyperLogLog counters propagated along
   * edges. THE scalable way to neighborhood functions / effective
   * diameter: exact reachability keeps O(n·ball) membership rows
   * (quadratic on dense graphs), while HyperBall moves m=16 register
   * rows per node per round through one (node, reg) max-aggregate —
   * |E|·m compact rows per iteration, Spark-shaped.
   *
   * Determinism (the q136 discipline): registers derive from md5(node)
   * — index = first hex nibble, value ρ = leading-zero count of the
   * next 60 bits plus one (computed via `length(bin(...))`, a string
   * op, no float log) — and counter union is integer `max`, so the
   * register state replays bit-for-bit in any engine with md5 and
   * 64-bit ints; the only doubles are inside [[hllEstimateSql]], shared
   * verbatim with the oracle. Output: (node, registers_set, est_micro)
   * — estimate in micro-units (ln-seam rule).
   *
   * Ball semantics: counters flow AGAINST edge direction (v's counter
   * absorbs its successors'), so after r rounds v's counter holds
   * {w : v reaches w in ≤ r hops}, v itself included. Plan depth stays
   * flat via per-round localCheckpoint (each round reads the previous
   * state once, but r rounds would still stack r plans).
   */
  def hyperBall(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      radius: Int): DataFrame = {
    require(radius >= 1, s"radius must be >= 1, got $radius")
    val e = cleanEdges(edges, srcCol, dstCol)
    val nodes = e.select(col("__src").as("node"))
      .unionByName(e.select(col("__dst").as("node")))
      .distinct()
    val init = nodes
      .withColumn("__h", md5(col("node").cast("string")))
      .withColumn("reg", expr("CAST(conv(substring(__h, 1, 1), 16, 10) AS INT)"))
      .withColumn("__v60", expr("CAST(conv(substring(__h, 2, 15), 16, 10) AS BIGINT)"))
      .withColumn("val", expr(
        "CASE WHEN __v60 = 0 THEN 61 ELSE CAST(61 - length(bin(__v60)) AS INT) END"))
      .select(col("node"), col("reg"), col("val"))
    var counters = init.localCheckpoint(eager = false)
    for (_ <- 1 to radius) {
      val pulled = counters
        .join(e, counters("node") === e("__dst"))
        .select(col("__src").as("node"), col("reg"), col("val"))
      counters = counters.unionByName(pulled)
        .groupBy(col("node"), col("reg"))
        .agg(max(col("val")).as("val"))
        .localCheckpoint(eager = false)
    }
    counters.groupBy(col("node"))
      .agg(count(lit(1)).as("registers_set"),
        sum(expr("CAST(shiftleft(1L, 61 - val) AS DECIMAL(38,0))")).as("__sset"))
      .withColumn("__v", expr("CAST(16 - registers_set AS INT)"))
      .withColumn("__s",
        expr("__sset + CAST(__v AS DECIMAL(38,0)) * CAST(2305843009213693952 AS DECIMAL(38,0))"))
      .withColumn("est_micro", expr(hllEstimateSql))
      .select(col("node"), col("registers_set"), col("est_micro"))
  }

  /**
   * k-core peeling over the undirected simple graph: `rounds` iterations
   * of "drop every node whose CURRENT degree < k", each recomputing
   * degrees on the surviving subgraph. The k-core is the classic
   * dense-substructure signal (Seidman 1983): spam link rings and
   * template cross-link blocks survive high k while organic link
   * neighborhoods peel away — curation uses it beside triangles (q175)
   * and PageRank to discount artificial density.
   *
   * Peeling to the TRUE fixpoint needs a data-dependent round count, so
   * this operator runs a FIXED `rounds` — deterministic, engine-
   * replayable (the oracle generates one CTE per round), and exact
   * whenever `rounds` covers the graph's peel depth (each round either
   * strictly shrinks the node set or every later round is a no-op;
   * depth is ≤ |V| and in practice a dozen). Callers that need the
   * fixpoint re-run with more rounds.
   *
   * Scale shape per round: one node-keyed degree aggregate (map-side
   * partials) + two semi-joins of the compact (x, y) long pairs against
   * the surviving node set; lineage truncates per round (the q136
   * discipline — the loop reads the previous adjacency twice per round:
   * degrees and the filter).
   *
   * Output: surviving (node, degree) rows after the final round —
   * degree is WITHIN the core subgraph, the number a spam-density
   * threshold actually wants.
   */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = cleanEdges(edges, srcCol, dstCol)
      .where(col("__src") =!= col("__dst"))
      .select(least(col("__src"), col("__dst")).as("__a"),
        greatest(col("__src"), col("__dst")).as("__b"))
      .distinct()
    var adj = und.select(col("__a").as("__x"), col("__b").as("__y"))
      .unionByName(und.select(col("__b").as("__x"), col("__a").as("__y")))
      .localCheckpoint(eager = false)
    for (_ <- 1 to rounds) {
      val keep = adj.groupBy(col("__x")).agg(count(lit(1)).as("__d"))
        .where(col("__d") >= k).select(col("__x"))
      adj = adj.join(keep, "__x")
        .join(keep.withColumnRenamed("__x", "__y"), "__y")
        .select(col("__x"), col("__y"))
        .localCheckpoint(eager = false)
    }
    adj.groupBy(col("__x")).agg(count(lit(1)).as("degree"))
      .select(col("__x").as("node"), col("degree"))
  }

  /**
   * Per-node triangle counts and local clustering coefficient over an
   * undirected simple graph (directed input is canonicalized: self-loops
   * dropped, parallel/reverse edges collapse to one {a,b} pair). The
   * local clustering coefficient — triangles(v) / C(deg(v), 2) — is the
   * classic cohesion signal (Watts–Strogatz 1998): spam-farm link rings
   * and template-generated cross-link blocks score near 1, organic hub
   * pages near 0, so corpus curation uses it alongside PageRank to
   * discount artificially dense neighborhoods.
   *
   * Scale shape — the degree-ordered orientation (Chiba–Nishizeki /
   * Suri–Vassilvitskii "MR-Cool" discipline): every undirected edge is
   * directed from its (degree, node)-smaller endpoint to the larger, and
   * wedges are enumerated only at an edge's LOWER endpoint. A hub of
   * degree d roots none of its C(d, 2) wedges — they root at the spokes
   * — which bounds per-node wedge fan-out by O(√m) on any graph and
   * makes the enumeration O(m^{3/2}) total instead of Σ deg² (quadratic
   * at hubs). Three hash equi-joins, no driver state, no node ever
   * materializes its neighbor list in one row.
   *
   * Determinism: counts are exact integers; the coefficient is reported
   * in integer micro-units — `(2'000'000 · tri) div (deg · (deg−1))` —
   * the ln-seam rule applied to a ratio, so any engine replays it
   * bit-for-bit. Output: (node, degree, triangles, cc_micro); isolated
   * nodes don't appear (no edges → no row), degree-1 nodes report
   * cc_micro = 0.
   */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val und = cleanEdges(edges, srcCol, dstCol)
      .where(col("__src") =!= col("__dst"))
      .select(least(col("__src"), col("__dst")).as("__a"),
        greatest(col("__src"), col("__dst")).as("__b"))
      .distinct()
    val deg = und.select(col("__a").as("node"))
      .unionByName(und.select(col("__b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__deg"))
    // Orient {a,b} from the (degree, node)-smaller endpoint to the larger;
    // carry the head's (degree, node) so the wedge join can order its two
    // endpoints without re-joining the degree table.
    val oriented = und
      .join(deg.select(col("node").as("__a"), col("__deg").as("__da")), "__a")
      .join(deg.select(col("node").as("__b"), col("__deg").as("__db")), "__b")
      .select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("__a") < col("__b")),
          struct(col("__a").as("t"), col("__b").as("h"),
            col("__db").as("dh")))
          .otherwise(struct(col("__b").as("t"), col("__a").as("h"),
            col("__da").as("dh"))).as("__e"))
      .select(col("__e.t").as("__t"), col("__e.h").as("__h"),
        col("__e.dh").as("__dh"))
    // Wedges root at the tail: (v, w) both order-above u, v order-below w.
    val o1 = oriented.select(col("__t").as("__u"), col("__h").as("__v"),
      col("__dh").as("__dv"))
    val o2 = oriented.select(col("__t").as("__u"), col("__h").as("__w"),
      col("__dh").as("__dw"))
    val wedges = o1.join(o2, "__u")
      .where(col("__dv") < col("__dw") ||
        (col("__dv") === col("__dw") && col("__v") < col("__w")))
    // Close the wedge: (v, w) is oriented v→w exactly when it exists,
    // because v precedes w in the same total order the orientation used.
    val triangles = wedges.join(
      oriented.select(col("__t").as("__v"), col("__h").as("__w")),
      Seq("__v", "__w"))
      .select(col("__u"), col("__v"), col("__w"))
    val perNode = triangles
      .select(explode(array(col("__u"), col("__v"), col("__w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("__tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("__deg").as("degree"),
        coalesce(col("__tri"), lit(0L)).as("triangles"),
        expr("CASE WHEN __deg >= 2 THEN (2000000 * coalesce(__tri, 0L)) " +
          "div (__deg * (__deg - 1)) ELSE 0L END").as("cc_micro"))
  }
}
