package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Graph, TextAnalysis}
import Support._

/** Graph operators ([[graft.pipeline.Graph]]): PageRank family, triangles,
  * k-core, hop distances, link prediction. */
private[catalog] object GraphQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q175_triangle_counts", (s, d) => {
      // Per-node triangles + local clustering coefficient over the
      // planted community/hub graph — degree-ordered orientation, so
      // wedge enumeration roots at spokes, never at the 100-degree hubs.
      Graph.triangleCounts(plantedTriangleEdges(s, d), "src", "dst")
        .orderBy("node")
    },
      // q175: same canonicalization (undirected simple), same
      // (degree, node) total order for orientation, same wedge + closing
      // join — the oracle IS the degree-ordered algorithm in SQL, so it
      // stays O(m^{3/2}) too.
      raw"""WITH $plantedTriangleRawCtes,
        |e AS (SELECT DISTINCT r.src, r.dst FROM raw r JOIN ids i ON i.id = r.dst),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM e WHERE src <> dst),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |        GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
        |         THEN u.a ELSE u.b END AS t,
        |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
        |         THEN u.b ELSE u.a END AS h,
        |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
        |         THEN db.dg ELSE da.dg END AS dh
        |  FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b),
        |wd AS (SELECT o1.t AS u, o1.h AS v, o2.h AS w
        |       FROM o o1 JOIN o o2 ON o1.t = o2.t
        |       WHERE o1.dh < o2.dh OR (o1.dh = o2.dh AND o1.h < o2.h)),
        |tri AS (SELECT wd.u, wd.v, wd.w
        |        FROM wd JOIN o oc ON oc.t = wd.v AND oc.h = wd.w),
        |pern AS (SELECT node, CAST(count(*) AS BIGINT) AS tr FROM (
        |           SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
        |           UNION ALL SELECT w FROM tri) GROUP BY 1)
        |SELECT deg.node, deg.dg AS degree,
        |  coalesce(pern.tr, 0) AS triangles,
        |  CASE WHEN deg.dg >= 2
        |       THEN (2000000 * coalesce(pern.tr, 0)) // (deg.dg * (deg.dg - 1))
        |       ELSE 0 END AS cc_micro
        |FROM deg LEFT JOIN pern USING (node)
        |ORDER BY node""".stripMargin),

    QuerySpec("q226_link_prediction", (s, d) => {
      // Common-neighbor link prediction over the planted community/hub
      // graph: top-20 NON-adjacent pairs by shared-neighbor count —
      // center-rooted wedge enumeration, one anti-join against the edge
      // set, a bounded TakeOrdered. Hub centers truncate to their 32
      // smallest neighbors (maxDegree — the in-code cap on Σ C(deg, 2)
      // wedge volume; the oracle replays the same truncation), so the
      // planted 100-degree hubs stop dominating the wedge count.
      Graph.commonNeighborScores(plantedTriangleEdges(s, d),
          "src", "dst", k = 20, maxDegree = 32)
        .orderBy(desc("common_neighbors"), asc("id_a"), asc("id_b"))
    },
      // q226: the q175 planted graph, center-rooted wedges over the SAME
      // maxDegree=32 truncated adjacency (each center's 32 smallest
      // neighbors), NOT EXISTS against the FULL undirected edge set,
      // (score DESC, pair) top-20.
      raw"""WITH $plantedTriangleRawCtes,
        |e AS (SELECT DISTINCT r.src, r.dst FROM raw r JOIN ids i ON i.id = r.dst),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM e WHERE src <> dst),
        |adj0 AS (SELECT a AS x, b AS y FROM und UNION ALL SELECT b, a FROM und),
        |adj AS (SELECT x, y FROM adj0
        |        QUALIFY row_number() OVER (PARTITION BY x ORDER BY y) <= 32),
        |w AS (
        |  SELECT l.y AS a, r.y AS b, count(*) AS cn
        |  FROM adj l JOIN adj r ON l.x = r.x AND l.y < r.y
        |  GROUP BY l.y, r.y),
        |cand AS (
        |  SELECT w.a, w.b, cn FROM w
        |  ANTI JOIN und ON w.a = und.a AND w.b = und.b)
        |SELECT a AS id_a, b AS id_b, CAST(cn AS BIGINT) AS common_neighbors
        |FROM cand
        |ORDER BY cn DESC, a, b LIMIT 20""".stripMargin),

    QuerySpec("q217_hop_distances", (s, d) => {
      // Multi-source BFS: exact hop distance from the hub seed set
      // (ids % 100 == 0) over the planted community/hub graph, 3 hops —
      // the crawl-frontier "distance from trusted content" read beside
      // q156's personalized mass. Frontier joins on compact longs;
      // rounds past convergence cost scheduling only.
      val seeds = t(s, d, "documents").select(col("doc_id").as("seed"))
        .where(col("seed") % 100 === 0)
      Graph.hopDistances(plantedTriangleEdges(s, d), "src", "dst",
          seeds, "seed", maxHops = 3)
        .orderBy("node")
    },
      // q217: the q175 planted-graph CTEs (directed), then one
      // (frontier, minus-known) CTE pair per hop.
      raw"""WITH $plantedTriangleRawCtes,
        |e AS (SELECT DISTINCT r.src, r.dst FROM raw r JOIN ids i ON i.id = r.dst),
        |d0 AS (SELECT id AS node, 0 AS dist FROM ids WHERE id % 100 = 0),
        |f1 AS (SELECT DISTINCT e.dst AS node FROM d0 JOIN e ON e.src = d0.node),
        |d1 AS (SELECT node, 1 AS dist FROM f1
        |       WHERE node NOT IN (SELECT node FROM d0)),
        |f2 AS (SELECT DISTINCT e.dst AS node FROM d1 JOIN e ON e.src = d1.node),
        |d2 AS (SELECT node, 2 AS dist FROM f2
        |       WHERE node NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM d1)),
        |f3 AS (SELECT DISTINCT e.dst AS node FROM d2 JOIN e ON e.src = d2.node),
        |d3 AS (SELECT node, 3 AS dist FROM f3
        |       WHERE node NOT IN (SELECT node FROM d0 UNION ALL
        |                          SELECT node FROM d1 UNION ALL
        |                          SELECT node FROM d2))
        |SELECT node, CAST(dist AS INTEGER) AS dist FROM (
        |  SELECT * FROM d0 UNION ALL SELECT * FROM d1
        |  UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
        |ORDER BY node""".stripMargin),

    QuerySpec("q218_weighted_pagerank", (s, d) => {
      // Weighted damped PageRank (the formulation TextRank specifies):
      // mass leaves proportionally to edge weight — one truncating
      // per-unit quotient per source, exact integer scaling per edge,
      // replayed bit-for-bit by the iteration CTEs. Planted weights
      // 1 + (src+dst) % 7 over the q175 graph.
      val we = plantedTriangleEdges(s, d)
        .withColumn("w", lit(1L) + pmod(col("src") + col("dst"), lit(7L)))
      Graph.pageRankWeighted(we, "src", "dst", "w", iterations = 5)
        .orderBy("node")
    },
      // q218: the q175 graph with summed planted weights, then the
      // weighted recurrence — per-unit truncating quotient, exact
      // integer edge scaling — one CTE per iteration.
      weightedPageRankOracleSql),

    QuerySpec("q192_kcore", (s, d) => {
      // k-core peeling on the planted community/hub graph: four rounds
      // of "drop every node whose current degree < 3", degrees
      // recomputed on the survivors each round — the dense-substructure
      // screen beside q175's clustering coefficients. Fixed rounds keep
      // the result engine-replayable (one oracle CTE per round).
      Graph.kCore(plantedTriangleEdges(s, d), "src", "dst",
          k = 3, rounds = 4)
        .orderBy("node")
    },
      kCoreOracleSql(3, 4)),

    QuerySpec("q156_personalized_pagerank", (s, d) => {
      // Personalized PageRank seeded by the SOURCE nodes of the planted
      // link graph — the seed-and-expand curation primitive (which
      // domains does the trusted set's link mass reach?). Teleport
      // returns to seeds only; same integer parts-per-1e12 recurrence,
      // five DuckDB iteration CTEs with a seed-conditional base replay
      // it bit-for-bit. Domains score by received mass; unreached
      // non-seed nodes rank exactly 0.
      val docs = t(s, d, "documents")
      Graph.pageRankPersonalized(plantedDomainEdges(s, d), "src", "dst",
          docs.select(col("source")).distinct(), "source", iterations = 5)
        .orderBy("node")
    },
      // q156: the q136 iteration CTEs with the base term made
      // seed-conditional (teleport returns to the source nodes only).
      personalizedPagerankOracleSql),

    QuerySpec("q155_hyperball", (s, d) => {
      // HyperBall over the planted link graph: per node, the HLL
      // estimate of how many nodes it reaches within 3 hops — the
      // neighborhood-function/effective-diameter primitive at the cost
      // of 16 integer registers per node per round instead of O(n·ball)
      // membership rows. Registers derive from md5 (index nibble +
      // leading-zero rank via bin(), no float log), union is integer
      // max, and the only doubles are the estimator SQL shared verbatim
      // with the oracle's three generated iteration CTEs.
      Graph.hyperBall(plantedDomainEdges(s, d), "src", "dst", radius = 3)
        .orderBy("node")
    },
      // q155: the q136 planted graph, md5-derived registers, three
      // register-max iteration CTEs, then the IDENTICAL estimator SQL the
      // Spark plan runs (shared string).
      hyperBallOracleSql),

    QuerySpec("q136_domain_pagerank", (s, d) => {
      // Damped PageRank over the source→linked-domain graph (the q120
      // planted URLs): the host-standing signal web-corpus curation
      // weights documents by. All-integer parts-per-1e12 arithmetic with
      // truncating div at every seam, so five DuckDB iteration CTEs
      // replay every rank bit-for-bit.
      Graph.pageRank(plantedDomainEdges(s, d), "src", "dst", iterations = 5)
        .orderBy("node")
    },
      // q136: the same planted URLs and host parse as q120, then five
      // explicit iteration CTEs replaying the integer parts-per-1e12
      // recurrence (sums CAST back to BIGINT at every seam — HUGEINT would
      // leak to float64 driver-side, the q64 lesson).
      s"""WITH $plantedDomainEdgeCtes,
        |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
        |       FROM ed GROUP BY 1),
        |cn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, cn),
        |${(1 to 5).map(pageRankRoundSql).mkString(",\n")}
        |SELECT node, r AS rank_ppt FROM i5 ORDER BY node""".stripMargin),

    QuerySpec("q142_pagerank_redistribute", (s, d) => {
      // The standard (mass-conserving) PageRank: dangling mass
      // redistributes equally each round — one extra driver-side sink-mass
      // sum per iteration, same integer parts-per-1e12 seams, so
      // the DuckDB iteration CTEs (now with a dangling term) still
      // replay bit-for-bit. Same planted graph as q136.
      Graph.pageRankRedistributing(plantedDomainEdges(s, d), "src", "dst",
          iterations = 5)
        .orderBy("node")
    },
      // q142: the q136 replay plus a dangling-mass CTE per iteration —
      // sink mass sums exactly, every node receives its truncated share.
      pagerankRedistOracleSql)
  )

  /** The q120/q136/q142 planted source→linked-domain graph: every doc
    * links host<id%7>.example<id%3>.com (and even ids a mirror domain),
    * then edges are (source, domain) — deterministic, replayable in SQL. */
  private def plantedDomainEdges(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val planted = docs.select(col("doc_id"), col("source"),
      concat(col("text"),
        lit(" see https://host"), (col("doc_id") % 7).cast("string"),
        lit(".example"), (col("doc_id") % 3).cast("string"),
        lit(".com/p/"), col("doc_id").cast("string"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" and http://mirror"), (col("doc_id") % 5).cast("string"),
            lit(".example.org/x"))).otherwise(lit(""))).as("text"))
    TextAnalysis.extractLinkDomains(planted, "doc_id", "text")
      .join(planted.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source").as("src"), col("domain").as("dst"))
  }

  /** The q175 planted triangle graph: community circulant edges
    * (i→i+1, i→i+2 within each block of 10 doc_ids) plus hub spokes
    * (i→(i div 100)·100) — deterministic from doc_ids, replayable in
    * SQL, linear in corpus size, with 100-degree hubs so the
    * degree-ordered orientation's skew story is actually exercised.
    * Edges whose endpoint doc_id doesn't exist (replica-boundary gaps)
    * drop via the semi-join. */
  private def plantedTriangleEdges(s: SparkSession, d: String): DataFrame = {
    val ids = t(s, d, "documents").select(col("doc_id").as("id"))
    val e1 = ids.select(col("id").as("src"), (col("id") + 1).as("dst"))
      .where(expr("(id + 1) div 10 = id div 10"))
    val e2 = ids.select(col("id").as("src"), (col("id") + 2).as("dst"))
      .where(expr("(id + 2) div 10 = id div 10"))
    val hub = ids.select(col("id").as("src"),
        expr("(id div 100) * 100").as("dst"))
      .where(col("id") % 100 =!= 0)
    e1.unionByName(e2).unionByName(hub)
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
  }

  /** [[plantedDomainEdges]] as DuckDB CTEs: the planted docs `p`, their
    * whitespace-bounded URLs `u`, the distinct (source, host) edges `ed`
    * and their `nodes`. Margin-prefixed (see [[Support]]). */
  private val plantedDomainEdgeCtes: String =
    raw"""p AS (
      |  SELECT doc_id, source,
      |    $plantedLinkTextSql
      |  FROM documents),
      |u AS (
      |  SELECT doc_id, source,
      |    unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
      |  FROM p),
      |ed AS (
      |  SELECT DISTINCT source AS src,
      |    regexp_extract(url, '^https?://([^/?#]+)', 1) AS dst
      |  FROM u),
      |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed)"""

  /** Round `k` of q136's damped integer PageRank over `ed`/`od`: the
    * parts-per-1e12 recurrence from the previous round's ranks. */
  private def pageRankRoundSql(k: Int): String = {
    val prev = if (k == 1) "r0" else s"i${k - 1}"
    s"""i$k AS (
      |  SELECT nx.node, (150 * (1000000000000 // cn.n)) // 1000
      |    + (850 * coalesce(s.acc, 0)) // 1000 AS r
      |  FROM nodes nx CROSS JOIN cn LEFT JOIN (
      |    SELECT ed.dst AS node, CAST(sum(pr.r // od.outdeg) AS BIGINT) AS acc
      |    FROM $prev pr JOIN od ON pr.node = od.node JOIN ed ON ed.src = pr.node
      |    GROUP BY ed.dst) s ON s.node = nx.node)"""
  }

  /** q142 oracle: the q136 planted-graph CTEs, then per iteration a
    * dangling-mass CTE (exact sink sum over the previous ranks) feeding
    * the rank recurrence's `+ d div n` term — generated as a chain so
    * the iteration count stays in one place. */
  private def pagerankRedistOracleSql: String = {
    val prefix =
      s"""WITH $plantedDomainEdgeCtes,
        |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
        |       FROM ed GROUP BY 1),
        |cn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, cn)""".stripMargin
    val iterations = (1 to 5).map { k =>
      val prev = if (k == 1) "r0" else s"i${k - 1}"
      s""",
         |d${k - 1} AS (
         |  SELECT CAST(coalesce(sum(pr.r), 0) AS BIGINT) AS d
         |  FROM $prev pr LEFT JOIN od ON pr.node = od.node
         |  WHERE od.node IS NULL),
         |i$k AS (
         |  SELECT nx.node, (150 * (1000000000000 // cn.n)) // 1000
         |    + (850 * (coalesce(s.acc, 0) + d${k - 1}.d // cn.n)) // 1000 AS r
         |  FROM nodes nx CROSS JOIN cn CROSS JOIN d${k - 1} LEFT JOIN (
         |    SELECT ed.dst AS node, CAST(sum(pr.r // od.outdeg) AS BIGINT) AS acc
         |    FROM $prev pr JOIN od ON pr.node = od.node JOIN ed ON ed.src = pr.node
         |    GROUP BY ed.dst) s ON s.node = nx.node)""".stripMargin
    }.mkString
    prefix + iterations +
      "\nSELECT node, r AS rank_ppt FROM i5 ORDER BY node"
  }

  /** q156 oracle: the q136/q142 planted-graph CTEs with a
    * seed-conditional base — teleport mass returns to the source nodes
    * only, |S| = seeds surviving the node intersection. */
  private def personalizedPagerankOracleSql: String = {
    val prefix =
      s"""WITH $plantedDomainEdgeCtes,
        |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
        |       FROM ed GROUP BY 1),
        |sd AS (
        |  SELECT node FROM (SELECT DISTINCT source AS node FROM documents)
        |  INTERSECT SELECT node FROM nodes),
        |cs AS (SELECT CAST(count(*) AS BIGINT) AS sn FROM sd),
        |r0 AS (
        |  SELECT n.node,
        |    CASE WHEN s.node IS NOT NULL THEN 1000000000000 // cs.sn
        |         ELSE 0 END AS r
        |  FROM nodes n LEFT JOIN sd s ON n.node = s.node, cs)""".stripMargin
    val iterations = (1 to 5).map { k =>
      val prev = if (k == 1) "r0" else s"i${k - 1}"
      s""",
         |i$k AS (
         |  SELECT nx.node,
         |    CASE WHEN sdx.node IS NOT NULL
         |         THEN (150 * (1000000000000 // cs.sn)) // 1000 ELSE 0 END
         |    + (850 * coalesce(s.acc, 0)) // 1000 AS r
         |  FROM nodes nx
         |  LEFT JOIN sd sdx ON nx.node = sdx.node
         |  CROSS JOIN cs LEFT JOIN (
         |    SELECT ed.dst AS node, CAST(sum(pr.r // od.outdeg) AS BIGINT) AS acc
         |    FROM $prev pr JOIN od ON pr.node = od.node JOIN ed ON ed.src = pr.node
         |    GROUP BY ed.dst) s ON s.node = nx.node)""".stripMargin
    }.mkString
    prefix + iterations +
      "\nSELECT node, r AS rank_ppt FROM i5 ORDER BY node"
  }

  /** q199: co-occurrence edge CTEs + the q136 integer-PageRank iteration
    * form, generated. */
  /** q218: [[graft.pipeline.Graph.pageRankWeighted]]'s recurrence over
    * the q175 planted graph with weights 1 + (src+dst) % 7 — per-source
    * truncating per-unit quotient, exact integer edge scaling, one CTE
    * per iteration. */
  private def weightedPageRankOracleSql: String = {
    val prefix =
      raw"""WITH $plantedTriangleRawCtes,
        |we AS (
        |  SELECT src, dst, CAST(sum(1 + (src + dst) % 7) AS BIGINT) AS w
        |  FROM (SELECT r.src, r.dst FROM raw r JOIN ids i ON i.id = r.dst)
        |  GROUP BY src, dst),
        |nodes AS (SELECT src AS node FROM we UNION SELECT dst FROM we),
        |ow AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS wout
        |       FROM we GROUP BY 1),
        |cn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, cn)""".stripMargin
    val iters = (1 to 5).map { i =>
      val prev = if (i == 1) "r0" else s"i${i - 1}"
      s""",
         |i$i AS (
         |  SELECT nx.node, (150 * (1000000000000 // cn.n)) // 1000
         |    + (850 * coalesce(s.acc, 0)) // 1000 AS r
         |  FROM nodes nx CROSS JOIN cn LEFT JOIN (
         |    SELECT we.dst AS node,
         |      CAST(sum((pr.r // ow.wout) * we.w) AS BIGINT) AS acc
         |    FROM $prev pr JOIN ow ON pr.node = ow.node
         |    JOIN we ON we.src = pr.node
         |    GROUP BY we.dst) s ON s.node = nx.node)""".stripMargin
    }.mkString
    prefix + iters +
      """
        |SELECT node, r AS rank_ppt FROM i5 ORDER BY node""".stripMargin
  }

  /** q192: the q175 planted-graph CTEs + one (degree-filter, edge-filter)
    * CTE pair per peel round — the fixed-rounds contract the Spark side
    * runs. */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val prefix =
      raw"""WITH $plantedTriangleRawCtes,
        |e AS (SELECT DISTINCT r.src, r.dst FROM raw r JOIN ids i ON i.id = r.dst),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM e WHERE src <> dst),
        |adj0 AS (SELECT a AS x, b AS y FROM und
        |         UNION ALL SELECT b, a FROM und)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s""",
         |k$i AS (SELECT x FROM adj${i - 1} GROUP BY x HAVING count(*) >= $k),
         |adj$i AS (SELECT a.x, a.y FROM adj${i - 1} a
         |          JOIN k$i kx ON a.x = kx.x JOIN k$i ky ON a.y = ky.x)""".stripMargin
    }.mkString
    prefix + iters +
      s"""
         |SELECT x AS node, CAST(count(*) AS BIGINT) AS degree
         |FROM adj$rounds GROUP BY x ORDER BY node""".stripMargin
  }

  private def hyperBallOracleSql: String = {
    val prefix =
      s"""WITH $plantedDomainEdgeCtes,
        |c0 AS (
        |  SELECT node,
        |    ('0x' || substr(h, 1, 1))::BIGINT AS reg,
        |    CASE WHEN v60 = 0 THEN 61
        |         ELSE 61 - length(bin(v60)) END AS val
        |  FROM (
        |    SELECT node, md5(CAST(node AS VARCHAR)) AS h,
        |      ('0x' || substr(md5(CAST(node AS VARCHAR)), 2, 15))::BIGINT AS v60
        |    FROM nodes))""".stripMargin
    val iters = (1 to 3).map { i =>
      s""",
         |c$i AS (
         |  SELECT node, reg, CAST(max(val) AS BIGINT) AS val FROM (
         |    SELECT node, reg, val FROM c${i - 1}
         |    UNION ALL
         |    SELECT ed.src AS node, c.reg, c.val
         |    FROM c${i - 1} c JOIN ed ON c.node = ed.dst)
         |  GROUP BY node, reg)""".stripMargin
    }.mkString
    val est = graft.pipeline.Graph.hllEstimateSql
    val suffix =
      s""",
         |agg AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS registers_set,
         |    CAST(sum(CAST((1::BIGINT) << (61 - val) AS HUGEINT)) AS HUGEINT) AS sset
         |  FROM c3 GROUP BY node),
         |fin AS (
         |  SELECT node, registers_set,
         |    CAST(16 - registers_set AS INT) AS __v,
         |    sset + CAST(16 - registers_set AS HUGEINT)
         |      * 2305843009213693952::HUGEINT AS __s
         |  FROM agg)
         |SELECT node, registers_set, $est AS est_micro
         |FROM fin ORDER BY node""".stripMargin
    prefix + iters + suffix
  }

  /** [[plantedTriangleEdges]]' raw edges in SQL: `ids`, and `raw` holding
    * the circulant i→i+1, i→i+2 edges within each block of 10 plus the
    * hub spokes, before the dangling-endpoint semi-join.
    * Margin-prefixed (see [[Support]]). */
  private val plantedTriangleRawCtes: String =
    """ids AS (SELECT doc_id AS id FROM documents),
      |raw AS (
      |  SELECT id AS src, id + 1 AS dst FROM ids WHERE (id + 1) // 10 = id // 10
      |  UNION ALL
      |  SELECT id, id + 2 FROM ids WHERE (id + 2) // 10 = id // 10
      |  UNION ALL
      |  SELECT id, (id // 100) * 100 FROM ids WHERE id % 100 <> 0)"""
}
