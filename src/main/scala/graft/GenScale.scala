package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Deterministic scale-up of the driver-generated testdata: derives an
 * sfN directory from sf0.1 by unioning `copies` perturbed replicas of
 * the three tables the heavy (scaling-audited) queries read —
 * `documents`, `embeddings`, `events`. Purpose: MEASURED scaling
 * exponents (SCALING.md) for the operators whose 100×-scale behavior
 * was previously argued from plan shape only.
 *
 * Perturbation design — the point is that each replica preserves
 * sf0.1's internal structure while staying DISJOINT from the others, so
 * k× data means k× the work, not k²:
 *
 *  - documents: replica k>0 suffixes every token with `x<k>`
 *    (`regexp_replace('(\S+)' -> '$1xk')`). Token multisets within a
 *    replica keep sf0.1's exact shape (same duplicate clusters, same
 *    frequency profile), but replicas share no vocabulary — MinHash/
 *    SimHash/n-gram dedup sees 10 independent copies of the sf0.1
 *    duplicate structure instead of one giant cross-replica clique
 *    (which plain copying would produce, quadratically inflating pair
 *    outputs and measuring output growth, not operator scaling).
 *    Replica k>0 also suffixes `source` with `xk`: sources are the
 *    planted link graph's src nodes, so the graph's |V|,|E| grow with
 *    the corpus (k replica subgraphs bridged by the shared domain
 *    nodes) instead of staying scale-invariant.
 *  - embeddings: replica k rotates each vector left by k positions —
 *    norms and per-dimension distributions survive, while rotated
 *    copies land far apart in cosine space, so ANN/near-dup workloads
 *    scale in corpus size without synthetic cross-replica neighbors.
 *  - events: user ids offset per replica (10× users, per-user event
 *    density unchanged — the realistic growth axis for sessionization
 *    and as-of joins); timestamps unchanged so time-bucketing keeps its
 *    density per bucket-key.
 *
 * Ids offset by (max+1)·k per replica — disjoint, integral, and the
 * lowest-id document (q139's needle anchor) stays the sf0.1 one.
 *
 * Usage: runMain graft.GenScale <srcDir> <outDir> [copies=10]
 */
object GenScale {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenScale <srcDir> <outDir> [copies]")
    val srcDir = args(0)
    val outDir = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    require(copies >= 1, s"copies must be >= 1, got $copies")

    // The nanos convention keeps events.ts the raw long-nanos column
    // byte-for-byte through the rewrite.
    val spark = LocalSession(32)

    def read(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // documents: per-replica vocabulary rename + per-replica source rename.
    // The source suffix is what makes the PLANTED LINK GRAPH grow with the
    // corpus: graph src nodes are the source values, so 10 replicas give
    // 10x src nodes and 10x (source, domain) edges — replica subgraphs
    // sharing the domain side as bridge nodes. Without it the graph's
    // |V|,|E| were scale-INVARIANT and the q136/q142/q155/q156 scaling
    // runs measured only the edge-extraction scan (SCALING.md round 11).
    // Per-source operators (packing shards, per-source token stats) see
    // 10x groups at unchanged per-group density — the realistic axis.
    val docs = read("documents")
    val docStride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    write((0 until copies).map { k =>
      val text =
        if (k == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1x" + k)
      val source =
        if (k == 0) col("source")
        else concat(col("source"), lit("x" + k))
      docs.select((col("doc_id") + lit(k * docStride)).as("doc_id"),
        text.as("text"), col("lang"), source.as("source"), col("n_chars"))
    }.reduce(_ unionByName _), "documents")

    // embeddings: per-replica rotation; past `dim` replicas, a second
    // sign-flip axis (negate the rotated vector) doubles the distinct
    // transforms to 2*dim. Negation preserves norms and per-dimension
    // distributions while -v sits at cosine -1 from v, so flipped
    // replicas stay as far from their unflipped rotation-mates as the
    // rotations are from each other — no synthetic cross-replica
    // neighbors at copies up to 2*dim (needed for the sf10 decade:
    // copies=100 > dim=64).
    // Past 2*dim replicas (the sf100 decade: copies=1000), a third axis:
    // a per-replica md5-derived SIGN MASK on top of the rotation. Masks
    // agree with any other transform (and each other) on ~dim/2
    // coordinates, so cross-replica cosines concentrate near 0 — far
    // below every near-dup/ANN threshold in the suite — while each
    // coordinate's ± flip is an isometry (norms and within-replica
    // structure survive). Replicas < 2*dim keep the exact historical
    // transforms, so sf1/sf10 regenerate bit-for-bit.
    val emb = read("embeddings")
    val vecStride = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    write((0 until copies).map { k =>
      val r = k % dim
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      val signed =
        if (k / dim == 0) rotated
        else if (k / dim == 1) transform(rotated, x => -x)
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val mask = (0 until dim).map { j =>
            val h = md.digest(s"gs|$k|$j".getBytes("UTF-8"))
            if ((h(0) & 1) == 0) 1.0f else -1.0f
          }
          transform(rotated, (x, j) =>
            x * element_at(typedlit(mask), j + 1))
        }
      emb.select((col("vec_id") + lit(k * vecStride)).as("vec_id"),
        signed.as("embedding"), col("label"))
    }.reduce(_ unionByName _), "embeddings")

    // events: per-replica user and event id offsets
    val ev = read("events")
    val evStride = ev.agg(max(col("event_id"))).head().getLong(0) + 1L
    val userStride = ev.agg(max(col("user_id"))).head().getLong(0) + 1L
    write((0 until copies).map { k =>
      ev.select((col("event_id") + lit(k * evStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k * userStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _), "events")

    // Relational (TPC-H-shaped) tables, so the FULL suite runs at the
    // derived scale: facts and entity dims replicate with consistent
    // per-replica key offsets (a replica's lineitems join its own orders/
    // parts/suppliers; its orders join its own customers), geography
    // (nation/region) stays fixed — 10x business volume over the same
    // reference dims, the realistic growth axis. Offsets preserve every
    // join's fan-out exactly, so k x data is k x join work.
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L
    val (li, ord, cust, supp, prt) = (read("lineitem"), read("orders"),
      read("customer"), read("supplier"), read("part"))
    val (oS, cS, sS, pS) = (stride(ord, "o_orderkey"), stride(cust, "c_custkey"),
      stride(supp, "s_suppkey"), stride(prt, "p_partkey"))
    def replicate(df: DataFrame, offsets: Map[String, Long]): DataFrame =
      (0 until copies).map { k =>
        df.select(df.columns.map { c =>
          offsets.get(c) match {
            case Some(st) => (col(c) + lit(k * st)).as(c)
            case None => col(c)
          }
        }: _*)
      }.reduce(_ unionByName _)
    write(replicate(li, Map("l_orderkey" -> oS, "l_partkey" -> pS,
      "l_suppkey" -> sS)), "lineitem")
    write(replicate(ord, Map("o_orderkey" -> oS, "o_custkey" -> cS)), "orders")
    write(replicate(cust, Map("c_custkey" -> cS)), "customer")
    write(replicate(supp, Map("s_suppkey" -> sS)), "supplier")
    write(replicate(prt, Map("p_partkey" -> pS)), "part")
    write(read("nation"), "nation")
    write(read("region"), "region")

    // scale-factor bookkeeping for the bench JSON
    println(s"""{"generated":"$outDir","copies":$copies}""")
    spark.stop()
  }
}
