package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.KmvFunctions
import graft.pipeline.{AudioCodec, Classify, Decontaminate, Dedup, Graph, HeavyHitters, ImageCodec, Joins, Layout, Linkage, Multimodal, Packing, Profile, Sampling, Search, Sessionize, Similarity, Skew, TextAnalysis, VideoCodec}

/**
 * Driver contract: every operator from SURVEY.md §2 (XML source/sink surface +
 * relational capabilities over it) plus the training-data pipeline operators
 * (dedup, similarity, text analysis, multimodal), each exposed as a named
 * query with a DuckDB-checkable oracle where SQL can express it.
 *
 * Numeric discipline for oracle equality: aggregates over double columns cast
 * operands to exact decimals first (the testdata is 2-3dp money), aggregate
 * exactly, and cast the result to double — bit-identical on both engines.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
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
  private def spread(df: DataFrame): DataFrame =
    graft.pipeline.PlanStats.spreadScan(df,
      df.sparkSession.sparkContext.defaultParallelism)

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec3(c: Column): Column = c.cast(DecimalType(18, 3))

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
  private def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Scale-adaptive state-store partition count for a STATEFUL stream
    * drain (stream-stream join, session windows): shuffle partitions fix
    * the state partitioning at stream start, and every micro-batch pays a
    * per-partition state-store open/commit (delta file create + rename +
    * CRC on the HDFS-backed provider) REGARDLESS of rows — at the bench's
    * input sizes a state sharded `cores` ways is pure fixed cost (measured:
    * most q188 stage time sits in 32 near-empty state tasks per batch).
    * Size to ~64 MB of input bytes per state partition, floor 1, capped at
    * the session's own setting so a production session configured for a
    * 100-TB stream keeps its parallelism — the cap means this can only
    * LOWER the count when the input is provably small. Partition count
    * never changes the drained row SET (state ops are per-key; results are
    * exact integer/decimal), only where keys live. Sizes resolve through
    * the Hadoop `FileSystem`, so `file:`/`hdfs:`/object-store paths size
    * like plain ones; if listing fails, the session's setting stands. */
  private[graft] def stateShufflePartitions(s: SparkSession, inputDirs: Seq[String]): Int = {
    val cap = s.sessionState.conf.numShufflePartitions
    graft.xml.XmlFile.totalInputBytes(s.sparkContext.hadoopConfiguration,
        inputDirs.mkString(","))
      .fold(cap)(bytes => math.max(1, math.min(cap.toLong, bytes / (64L << 20) + 1)).toInt)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to `n`
    * (restored in finally) — scopes the state sizing above to one stream. */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Stream-source INPUT fixture `name`: `df` written as XML once per
    * dataset. The write is setup, not the measured operator — bench passes
    * must time the stream drain, not re-renders of a static corpus (same
    * convention as the multimodal fixture tables). Returns the path. */
  private def xmlInput(d: String, name: String, rowTag: String)(df: => DataFrame): String =
    Fixtures.once(d, name)(df.write.format("graft.xml").option("rowTag", rowTag).save(_))

  /** Drains `stream` to the end: each micro-batch's `sinks(batch)` frames
    * are appended, in order, as parquet under `base` (subdirectory →
    * frame), with the query's checkpoint in `$base/ckpt`. Returns what
    * landed in `$base/out`. */
  private def drain(s: SparkSession, stream: DataFrame, base: String)(
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
  private def xmlRoundtrip(
      s: SparkSession,
      df: DataFrame,
      tag: String,
      inferSchema: Boolean = false): DataFrame = {
    val path = Fixtures.scratch(s"roundtrip/$tag")
    df.write.format("graft.xml").option("rowTag", tag).save(path)
    val reader = s.read.format("graft.xml").option("rowTag", tag)
    if (inferSchema) reader.load(path) else reader.schema(df.schema).load(path)
  }

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

  /** Stores a driver-side integer matrix as (cluster, dim, c) rows. */
  private def writeMatrix(s: SparkSession, m: Array[Array[Long]], path: String): Unit = {
    import s.implicits._
    m.zipWithIndex.flatMap { case (c, i) => c.zipWithIndex.map { case (v, dim) => (i, dim, v) } }
      .toSeq.toDF("cluster", "dim", "c").repartition(1).write.parquet(path)
  }

  /** Reads back a matrix stored by [[writeMatrix]]. */
  private def readMatrix(s: SparkSession, path: String): Array[Array[Long]] = {
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
  private def twoLevelModel(
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
  private def semDeDupIndex(s: SparkSession, d: String): DataFrame =
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
  private def dupComponents(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "dup_components_t90") { p =>
      val pairs = Dedup.minHashDedupPairs(t(s, d, "documents"), "doc_id", "text", 0.9)
      Dedup.connectedComponents(pairs, "id_a", "id_b").write.parquet(p)
    })

  /** The weighted posting index (`postings`) and its ranking-stat
    * sidecars (`doclens` = (id, dl), `stats` = the 1-row (__N, __T)),
    * built once per dataset — the "build once, serve many" contract:
    * q131/q154 queries read the stored stats instead of re-aggregating
    * the whole index per query. Returns the directory holding the three. */
  private def weightedIndex(s: SparkSession, d: String): String =
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
  private def bpeMerges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "bpe_merges") { p =>
      TextAnalysis.bpeMerges(t(s, d, "documents"), "text", k = 8).write.parquet(p)
    })

  /** The even-id half's MinHash index (q103's curated index). */
  private def minHashIndexEven(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "minhash_index") { p =>
      Dedup.minHashIndex(t(s, d, "documents").where(col("doc_id") % 2 === 0),
        "doc_id", "text").write.parquet(p)
    })

  /** The corpus's positional index (q132's). */
  private def positionalIndex(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "positional_index") { p =>
      Search.buildPositionalIndex(t(s, d, "documents"), "doc_id", "text").write.parquet(p)
    })

  /** The corpus's inverted index (q130's). */
  private def invertedIndex(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "inverted_index") { p =>
      Search.buildInvertedIndex(t(s, d, "documents"), "doc_id", "text").write.parquet(p)
    })

  /** The even-id half's inverted index (q151's base generation). */
  private def invertedIndexEven(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "inverted_index_even") { p =>
      Search.buildInvertedIndex(t(s, d, "documents").where(col("doc_id") % 2 === 0),
        "doc_id", "text").write.parquet(p)
    })

  /** The add-one bigram LM trained on the even-id half (q113's model). */
  private def bigramLm(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "bigram_lm") { p =>
      TextAnalysis.bigramLmModel(t(s, d, "documents").where(col("doc_id") % 2 === 0),
        "text").write.parquet(p)
    })

  /** The 64-bucket Naive Bayes weight table (q233's fit, stored for q234). */
  private def nbWeights(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "nb_weights_b64m") { p =>
      Classify.nbTrainHashed(t(s, d, "documents"), "text", nbLabelCol, buckets = 64)
        .repartition(1).write.parquet(p)
    })

  /** The dense 256-bucket DSIR λ table (stored for q239). */
  private def dsirLambda(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Fixtures.once(d, "dsir_lambda_b256") { p =>
      Classify.dsirFitLambda(t(s, d, "documents"), "text", nbLabelCol, buckets = 256)
        .repartition(1).write.parquet(p)
    })

  /** The even-id half's IVF index (centroids + cells; q252's generation 1). */
  private def ivfIndexEven(s: SparkSession, d: String): String =
    Fixtures.once(d, "ivf_index_even") { p =>
      Similarity.buildIvfIndex(t(s, d, "embeddings").where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p, nlist = 32, replicas = 3)
    }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational over parquet (Catalyst plan quality) ----
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 3)) -
            dec3(col("l_discount")))).cast("double").as("sum_disc_price"),
          (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_top_revenue_orders" -> ((s, d) => {
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem")
      // Revenue aggregates BELOW the join: o_orderdate is functionally
      // dependent on the join key, so grouping lineitem by l_orderkey first
      // is equivalent — and at scale it is the only sane shape: the partial
      // agg combines map-side (~4 lineitems/order in TPC-H shrink before
      // shuffling), the join moves one row per order instead of one per
      // lineitem, and the agg's hash partitioning on the key is reused by
      // the join's exchange.
      val rev = l.groupBy(col("l_orderkey"))
        .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 3)) -
          dec3(col("l_discount")))).as("rev0"))
      rev.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderdate"),
          col("rev0").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    "q03_latest_order_per_customer" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    }),

    "q04_distinct_parts_per_flag" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count_distinct(col("l_partkey")).as("distinct_parts"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    }),

    "q05_rollup_counts" -> ((s, d) => {
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    "q06_events_hourly" -> ((s, d) => {
      events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(dec3(col("value"))).cast("double").as("sum_value"))
        .orderBy("hour", "event_type")
    }),

    "q07_region_revenue" -> ((s, d) => {
      val region = t(s, d, "region")
      val nation = t(s, d, "nation")
      val cust = t(s, d, "customer")
      val orders = t(s, d, "orders")
      orders
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(sum(dec2(col("o_totalprice"))).cast("double").as("revenue"),
          count(lit(1)).as("order_cnt"))
        .orderBy("r_name")
    }),

    "q08_semi_anti_join" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val orders = t(s, d, "orders")
      val withOrders = cust.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(lit("has_orders").as("kind"), col("c_custkey"))
      val noOrders = cust.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(lit("no_orders").as("kind"), col("c_custkey"))
      withOrders.unionAll(noOrders)
        .groupBy("kind").agg(count(lit(1)).as("cnt")).orderBy("kind")
    }),

    // ---- XML engine end-to-end (write → split-parallel scan → Catalyst) ----
    "q10_xml_roundtrip_nation" -> ((s, d) => {
      xmlRoundtrip(s, t(s, d, "nation"), "nation").orderBy("n_nationkey")
    }),

    "q11_xml_infer_region" -> ((s, d) => {
      xmlRoundtrip(s, t(s, d, "region"), "region", inferSchema = true)
        .select("r_regionkey", "r_name").orderBy("r_regionkey")
    }),

    "q12_xml_pricing_summary" -> ((s, d) => {
      val slim = t(s, d, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
      xmlRoundtrip(s, slim, "line")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 3)) -
            dec3(col("l_discount")))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q13_xml_join_supplier_nation" -> ((s, d) => {
      val sup = xmlRoundtrip(s, t(s, d, "supplier"), "supplier")
      val nat = xmlRoundtrip(s, t(s, d, "nation"), "nation2")
      sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("suppliers"),
          sum(dec2(col("s_acctbal"))).cast("double").as("total_acctbal"))
        .orderBy("n_name")
    }),

    "q47_xml_v2_scan" -> ((s, d) => {
      // Read through the `xmlng2` name of the XML source: pruned +
      // filter-pushed scan over XML written by the sink, joined to a second
      // XML table WITHOUT a broadcast hint — the relation reports its input
      // size, so Catalyst auto-broadcasts the small side on its own.
      val sup = t(s, d, "supplier")
      val nat = t(s, d, "nation")
      // input fixtures: setup, not the measured scan (write-once)
      val supPath = xmlInput(d, "v2sup", "s")(sup)
      val natPath = xmlInput(d, "v2nat", "n")(nat)
      val supV2 = s.read.format("xmlng2").option("rowTag", "s").schema(sup.schema).load(supPath)
      val natV2 = s.read.format("xmlng2").option("rowTag", "n").schema(nat.schema).load(natPath)
      supV2.filter(col("s_acctbal") >= 0)
        .join(natV2, col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("suppliers"),
          sum(dec2(col("s_acctbal"))).cast("double").as("total_acctbal"))
        .orderBy("n_name")
    }),

    "q14_xml_attrs_part" -> ((s, d) => {
      // Underscore-prefixed fields serialize as XML attributes and come back.
      val attrs = t(s, d, "part").select(
        col("p_partkey").as("_partkey"),
        col("p_brand").as("_brand"),
        col("p_retailprice").as("p_retailprice"))
      xmlRoundtrip(s, attrs, "part")
        .filter(col("_partkey") <= 100)
        .orderBy("_partkey")
    }),

    "q15_xml_nested_orders" -> ((s, d) => {
      val nested = t(s, d, "orders").select(
        col("o_orderkey"),
        struct(col("o_totalprice"), col("o_orderstatus")).as("info"))
      xmlRoundtrip(s, nested, "order")
        .select(col("o_orderkey"), col("info.o_totalprice").as("o_totalprice"),
          col("info.o_orderstatus").as("o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    "q16_from_xml_orders" -> ((s, d) => {
      val payloads = t(s, d, "orders").select(
        col("o_orderkey"),
        concat(lit("<o><k>"), col("o_orderkey"),
          lit("</k><p>"), col("o_orderpriority"), lit("</p></o>")).as("payload"))
      val st = StructType(Seq(
        StructField("k", LongType), StructField("p", StringType)))
      payloads
        .withColumn("parsed", graft.xml.from_xml(col("payload"), st))
        .select(col("o_orderkey"), col("parsed.k").as("k"), col("parsed.p").as("p"))
        .filter(col("o_orderkey") % 97 === 0)
        .orderBy("o_orderkey")
    }),

    "q17_xml_window_orders" -> ((s, d) => {
      val orders = xmlRoundtrip(s,
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        "order2")
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      orders.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(sum(dec2(col("o_totalprice"))).cast("double").as("recent_two_total"))
        .orderBy("o_custkey")
    }),

    "q18_schema_of_xml" -> ((s, d) => {
      import s.implicits._
      // Distributed schema inference over per-row XML payloads; the resulting
      // DDL string is the oracle-checkable artifact.
      val payloads = t(s, d, "orders").select(
        concat(lit("<o><k>"), col("o_orderkey"),
          lit("</k><p>"), col("o_orderpriority"), lit("</p></o>")).as("payload"))
      val ddl = graft.xml.schema_of_xml(payloads.as[String]).toDDL
      payloads.agg(count(lit(1)).as("cnt")).select(lit(ddl).as("ddl"), col("cnt"))
    }),

    "q41_schema_of_xml_sampled" -> ((s, d) => {
      import s.implicits._
      // Same inference as q18 at samplingRatio=0.1 — the documented lever for
      // inference at 100 TB. The corpus is shape-uniform, so the sampled DDL
      // is deterministic and oracle-checkable; the bench row quantifies the
      // sampling crossover against q18's full pass.
      val payloads = t(s, d, "orders").select(
        concat(lit("<o><k>"), col("o_orderkey"),
          lit("</k><p>"), col("o_orderpriority"), lit("</p></o>")).as("payload"))
      val ddl = graft.xml.schema_of_xml(
        payloads.as[String], Map("samplingRatio" -> "0.1")).toDDL
      payloads.agg(count(lit(1)).as("cnt")).select(lit(ddl).as("ddl"), col("cnt"))
    }),

    "q19_xsd_nation" -> ((s, d) => {
      // XSD → StructType (A11) driving a schema'd XML read.
      val xsd =
        """<?xml version="1.0"?>
          |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
          |  <xs:element name="nation">
          |    <xs:complexType>
          |      <xs:sequence>
          |        <xs:element name="n_nationkey" type="xs:int"/>
          |        <xs:element name="n_name" type="xs:string"/>
          |        <xs:element name="n_regionkey" type="xs:int"/>
          |      </xs:sequence>
          |    </xs:complexType>
          |  </xs:element>
          |</xs:schema>""".stripMargin
      // XSDToSchema wraps rows in the root element; unwrap for rowTag reads.
      val schema = graft.xml.XSDToSchema.read(xsd)("nation").dataType.asInstanceOf[StructType]
      val path = xmlInput(d, "xsd_nation", "nation")(t(s, d, "nation"))
      s.read.format("graft.xml").option("rowTag", "nation").schema(schema).load(path)
        .orderBy("n_nationkey")
    }),

    "q34_parse_modes" -> ((s, d) => {
      // Corrupt corpus: every 10th record carries an uncastable long (A13).
      val recs = t(s, d, "orders").select(
        when(col("o_orderkey") % 10 === 0,
          concat(lit("<order><k>bad"), col("o_orderkey"), lit("</k><v>x</v></order>")))
          .otherwise(concat(lit("<order><k>"), col("o_orderkey"), lit("</k><v>x</v></order>")))
          .as("value"))
      val path = Fixtures.scratch("modes")
      recs.write.text(path)
      val dataSchema = StructType(Seq(
        StructField("k", LongType), StructField("v", StringType)))
      val permSchema = dataSchema.add(StructField("_corrupt_record", StringType))
      val perm = s.read.format("graft.xml").option("rowTag", "order")
        .schema(permSchema).load(path)
        .agg(count(lit(1)).as("cnt"), count(col("_corrupt_record")).as("corrupt_cnt"))
        .select(lit("permissive").as("mode"), col("cnt"), col("corrupt_cnt"))
      val drop = s.read.format("graft.xml").option("rowTag", "order")
        .option("mode", "DROPMALFORMED").schema(dataSchema).load(path)
        .agg(count(lit(1)).as("cnt"))
        .select(lit("dropmalformed").as("mode"), col("cnt"), lit(0L).as("corrupt_cnt"))
      perm.unionAll(drop).orderBy("mode")
    }),

    "q37_xsd_validation" -> ((s, d) => {
      // Per-row XSD validation (A12) routed through DROPMALFORMED: every 7th
      // record omits the required <p> element and must be dropped.
      val recs = t(s, d, "orders").select(
        when(col("o_orderkey") % 7 === 0,
          concat(lit("<order><k>"), col("o_orderkey"), lit("</k></order>")))
          .otherwise(concat(lit("<order><k>"), col("o_orderkey"),
            lit("</k><p>"), col("o_orderpriority"), lit("</p></order>")))
          .as("value"))
      val path = Fixtures.scratch("xsd_validation")
      recs.write.text(path)
      val xsdPath = Fixtures.scratch("xsd_order.xsd")
      val xsd =
        """<?xml version="1.0"?>
          |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
          |  <xs:element name="order">
          |    <xs:complexType>
          |      <xs:sequence>
          |        <xs:element name="k" type="xs:long"/>
          |        <xs:element name="p" type="xs:string"/>
          |      </xs:sequence>
          |    </xs:complexType>
          |  </xs:element>
          |</xs:schema>""".stripMargin
      java.nio.file.Files.write(java.nio.file.Paths.get(xsdPath),
        xsd.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s.read.format("graft.xml").option("rowTag", "order")
        .option("mode", "DROPMALFORMED")
        .option("rowValidationXSDPath", xsdPath)
        .schema(StructType(Seq(
          StructField("k", LongType), StructField("p", StringType))))
        .load(path)
        .agg(count(lit(1)).as("valid_cnt"))
    }),

    "q38_from_xml_string" -> ((s, d) => {
      // Driver-side single-string parse (A10): the parsed values join a
      // table aggregate so the oracle can state them as literals.
      val st = StructType(Seq(
        StructField("k", LongType), StructField("p", StringType)))
      val row = graft.xml.from_xml_string("<o><k>42</k><p>urgent</p></o>", st)
      t(s, d, "orders").agg(count(lit(1)).as("cnt"))
        .select(lit(row.getLong(0)).as("k"), lit(row.getString(1)).as("p"), col("cnt"))
    }),

    "q39_insert_overwrite" -> ((s, d) => {
      // INSERT OVERWRITE into a `USING xmlng` view (A7), read back schema'd.
      val path = Fixtures.scratch("insert_target")
      t(s, d, "nation").limit(1).select(col("n_nationkey"), col("n_name"))
        .write.format("graft.xml").option("rowTag", "n").save(path)
      // Explicit view schema: inference canonicalizes field order by name,
      // which would flip the positional column mapping of the INSERT.
      s.sql(
        s"""CREATE OR REPLACE TEMPORARY VIEW q39_target
           |(n_nationkey INT, n_name STRING)
           |USING xmlng
           |OPTIONS (path "$path", rowTag "n")""".stripMargin)
      t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
        .createOrReplaceTempView("q39_src")
      s.sql("INSERT OVERWRITE TABLE q39_target SELECT * FROM q39_src")
      s.read.format("graft.xml").option("rowTag", "n")
        .schema(StructType(Seq(
          StructField("n_nationkey", IntegerType), StructField("n_name", StringType))))
        .load(path)
        .orderBy("n_nationkey")
    }),

    "q35_explode_lineitems" -> ((s, d) => {
      // array<struct> through the XML sink/source, then explode + re-aggregate.
      val items = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("ln"), col("l_quantity").as("qty")))).as("items"))
      val back = xmlRoundtrip(s, items, "orderitems")
      // No final orderBy: the driver's hash check sorts rows itself
      // (tools/check_oracle.py), and a global sort's range-partitioner
      // sampling pass would re-execute the whole roundtrip pipeline.
      back.select(col("o_orderkey"), explode(col("items")).as("item"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("item_cnt"),
          sum(dec2(col("item.qty"))).cast("double").as("sum_qty"))
    }),

    // ---- training-data pipeline operators ----
    "q20_dedup_exact" -> ((s, d) => {
      Dedup.exactRepresentatives(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("dup_count"))
        .orderBy("doc_id")
    }),

    "q71_dedup_keep_best" -> ((s, d) => {
      // Exact dedup that keeps the BEST copy, not the first seen: each doc
      // is planted as 1-3 copies (copy k of doc d has id 10d+k and score
      // (7d+31k) mod 50); per identical-text group the survivor is the
      // score-argmax, ties to the lowest id. The oracle replays the same
      // planted formulas and window pick.
      val docs = t(s, d, "documents")
      val corpus = docs
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), (col("doc_id") % 3).cast("int"))).as("k"))
        .select((col("doc_id") * 10 + col("k")).as("copy_id"), col("text"),
          ((col("doc_id") * 7 + col("k") * 31) % 50).as("score"))
      Dedup.bestExactRepresentatives(corpus, "copy_id", "text", col("score"))
        .select(col("copy_id"), col("score"), col("dup_count"))
        .orderBy("copy_id")
    }),

    "q72_corpus_report" -> ((s, d) => {
      // Per-(source, lang) corpus panel: volumes, distinct-content count,
      // short-doc tail. Integer-only aggregates so the report hashes
      // identically on any engine and any partition layout.
      TextAnalysis.corpusReport(t(s, d, "documents"), "text", Seq("source", "lang"))
        .orderBy("source", "lang")
    }),

    "q73_token_quantiles" -> ((s, d) => {
      // Exact token-count quantiles (type-1): the length distribution that
      // tunes a packing budget. Distinct-count histogram first, so the
      // global window never sees per-document rows; quantiles in integer
      // permille so the ceil threshold has no float seam between engines.
      TextAnalysis.tokenCountQuantiles(t(s, d, "documents"), "text",
        Seq(250, 500, 750, 900, 990, 1000))
    }),

    "q74_incremental_dedup" -> ((s, d) => {
      // Incremental ingestion: the curated corpus holds every doc_id%3==0
      // document; the incoming batch replays ALL documents as two copies
      // each (ids 2d and 2d+1). Only content absent from the corpus
      // survives the digest anti-join, then the batch dedups internally
      // (min copy id, batch-side dup_count). The corpus contributes only
      // distinct digests — its text never crosses the wire.
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(1))).as("k"))
        .select((col("doc_id") * 2 + col("k")).as("copy_id"), col("text"))
      Dedup.incrementalExactDedup(batch, corpus, "copy_id", "text")
        .select(col("copy_id"), col("dup_count"))
        .orderBy("copy_id")
    }),

    "q75_temperature_mixture" -> ((s, d) => {
      // Temperature mixture (α = 1/2): per-source keep rates ∝ sqrt(n)/n
      // normalized to half the corpus, all thresholds in exact integer
      // arithmetic (isqrt + BigInt) so the kept set is engine- and
      // layout-independent. id_sum pins exact membership, not just counts.
      val docs = t(s, d, "documents")
      Sampling.sampleByTemperature(docs, "source", "doc_id",
          budgetPermille = 500, salt = "temp1")
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
        .orderBy("source")
    }),

    "q76_kmv_distinct" -> ((s, d) => {
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
    }),

    "q21_text_stats" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("token_count"),
        length(col("text")).as("char_count"),
        TextAnalysis.meanWordLength(col("text")).as("mean_word_len"))
        .orderBy("doc_id")
    }),

    "q48_vocab_topk" -> ((s, d) => {
      // Exact heavy hitters: map-side partial counts -> one token shuffle ->
      // TakeOrderedAndProject (per-task k-heaps, no global sort).
      TextAnalysis.topTokens(t(s, d, "documents"), "text", 100)
    }),

    "q49_split_assign" -> ((s, d) => {
      // Deterministic train/val/test assignment + hash-sampling: pure
      // map-side md5 bucketing on the key, reproducible on any cluster
      // layout (no df.sample() order-dependence).
      val docs = t(s, d, "documents")
      val assigned = Sampling.assignSplits(
        docs, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "seed42")
      val sampled = Sampling.sampleByHash(docs, "doc_id", 0.25, salt = "sub1")
        .agg(count(lit(1)).as("sampled_cnt"), sum(col("doc_id")).as("sampled_id_sum"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"))
        .crossJoin(sampled)
        .orderBy("split")
    }),

    "q50_decontaminate" -> ((s, d) => {
      // Benchmark decontamination: the "eval set" is every doc with
      // doc_id % 37 == 0; any doc sharing a 5-word gram with it (the
      // corpus's planted near/exact dups, and the eval docs themselves) is
      // dropped. The eval gram hashes collect once into a sorted table
      // that rides to every task; the corpus pays one map-side membership
      // test per doc — zero shuffles, zero joins. Equals the string-gram
      // oracle absent a 64-bit collision (~1e-9 here). No final orderBy:
      // the gate is order-insensitive and a range sort's sampling pass
      // would re-execute the filter.
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
      Decontaminate.decontaminate(docs, "doc_id", "text", bench, "text", 5)
        .select(col("doc_id"), col("source"))
    }),

    "q70_bloom_decontaminate" -> ((s, d) => {
      // Bloom-filter decontamination: same eval split and 5-gram window as
      // q50, but membership through a FIXED 16 KiB md5-bit Bloom bitmap
      // (m=2^17, k=4) instead of the exact gram table — constant state no
      // matter how large the eval set grows; errors only over-drop. The
      // oracle replays the exact bit arithmetic, false positives included.
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
      Decontaminate.bloomDecontaminate(docs, "text", bench, "text", 5)
        .select(col("doc_id"), col("source"))
    }),

    "q51_source_cap" -> ((s, d) => {
      // Per-domain frequency cap: at most 15 docs per source, winners
      // chosen by deterministic md5 rank so the kept set is identical on
      // any cluster layout / re-run. One shuffle keyed by source.
      Sampling.capPerKey(t(s, d, "documents"), "source", 15, "doc_id", salt = "cap1")
        .select(col("doc_id"), col("source"))
      // no orderBy: order-insensitive gate; a range sort's sampling pass
      // would run the window pipeline twice
    }),

    "q52_pii_redact" -> ((s, d) => {
      // PII scrub over text with planted emails/IPs/phones (the synthetic
      // corpus carries none, so the query plants deterministic ones —
      // identically in the oracle). Map-side regexp chain + audit counts.
      val withPii = t(s, d, "documents").select(
        col("doc_id"),
        concat(
          col("text"),
          lit(" Contact user"), col("doc_id"), lit("@example.com via 10."),
          col("doc_id") % 256, lit(".0.1 or 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-0199.")
        ).as("text"))
      withPii.select(
        col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("redacted"),
        TextAnalysis.piiCount(col("text"), TextAnalysis.EmailPattern).as("email_cnt"),
        TextAnalysis.piiCount(col("text"), TextAnalysis.Ipv4Pattern).as("ip_cnt"),
        TextAnalysis.piiCount(col("text"), TextAnalysis.PhonePattern).as("phone_cnt"))
      // no orderBy: the sort's range-sampling pass would run the six-regex
      // chain twice; the gate is order-insensitive
    }),

    "q53_chunk_tokens" -> ((s, d) => {
      // Context-window chunking: 32-token windows, 8-token overlap
      // (stride 24), one row per chunk — sequence packing's shuffle-free
      // precursor. posexplode pipelines inside codegen.
      TextAnalysis.chunkByTokens(t(s, d, "documents"), "doc_id", "text", 32, 8)
      // no orderBy: order-insensitive gate; a sort would re-run the explode
    }),

    "q54_repetition" -> ((s, d) => {
      // Gopher-style repetition quality signals: duplicate-line fraction
      // over a corpus with planted duplicate lines (the synthetic docs are
      // single-line), and top-bigram fraction via the native one-pass
      // gram_stats. Two-phase select so the stats struct evaluates once
      // per doc; both signals are pure map-side work. No orderBy — the
      // gate is order-insensitive and a sort's sampling pass would run
      // the text pass twice.
      val docs = t(s, d, "documents")
      docs.select(
          col("doc_id"),
          TextAnalysis.duplicateLineFraction(
            concat_ws("\n", col("text"), substring(col("text"), 1, 40), col("text")))
            .as("dup_line_frac"),
          graft.functions.SketchFunctions.gram_stats(col("text"), 2).as("gs"))
        .select(col("doc_id"), col("dup_line_frac"),
          TextAnalysis.fractionOfGramStats(col("gs")).as("top_bigram_frac"))
    }),

    "q57_tfidf_terms" -> ((s, d) => {
      // Per-document salient terms by TF-IDF, document frequencies from
      // the corpus itself. No final orderBy (order-insensitive gate).
      TextAnalysis.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", 3)
    }),

    "q56_mixture_sample" -> ((s, d) => {
      // Data-mixture reweighting: per-source keep fractions via the same
      // md5 bucketing as q49/q51 — pure map-side filter, no join for the
      // fraction lookup (folds to a when-chain).
      val docs = t(s, d, "documents")
      Sampling.sampleByKeyFractions(
          docs, "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.0),
          "doc_id", defaultFraction = 0.1, salt = "mix6")
        .groupBy("source")
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"))
        .orderBy("source")
    }),

    "q55_curation_pipeline" -> ((s, d) => {
      // The whole curation pipeline as ONE Catalyst plan: language filter →
      // quality filter → exact dedup → eval-set decontamination →
      // per-source cap → train/val split → per-split accounting. Every
      // stage is an operator from this library; the oracle replays the
      // identical chain in SQL. Shuffle census for the full pipeline: one
      // for the dedup window, one for the cap window, one for the final
      // aggregate — filters, decontamination, and split assignment are all
      // map-side.
      val docs = t(s, d, "documents")
      val filtered = docs.filter(
        TextAnalysis.langId(col("text")) === "en" &&
          TextAnalysis.tokenCount(col("text")) >= 30 &&
          TextAnalysis.punctRatio(col("text")) < 0.1)
      val deduped = Dedup.exactDedup(filtered, "doc_id", "text")
      val bench = docs.filter(col("doc_id") % 37 === 0)
      val clean = Decontaminate.decontaminate(deduped, "doc_id", "text", bench, "text", 5)
      val capped = Sampling.capPerKey(clean, "source", 10, "doc_id", salt = "cap6")
      val split = Sampling.assignSplits(
        capped, "doc_id", Seq("train" -> 0.9, "val" -> 0.1), salt = "split6")
      split.groupBy("split", "source")
        .agg(count(lit(1)).as("cnt"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))
        .orderBy("split", "source")
    }),

    "q22_text_quality" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.select(
        col("doc_id"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"))
        .orderBy("doc_id")
    }),

    "q23_fingerprint" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // Pair/topk queries carry no final orderBy: the correctness gate is
    // row-order-insensitive, and a global sort on a large pair result forces
    // a range exchange whose sampling pass re-executes the pipeline (~2x).
    "q24_minhash_pairs" -> ((s, d) => {
      Dedup.minHashDedupPairs(t(s, d, "documents"), "doc_id", "text", 0.9)
    }),

    "q25_ngram_jaccard_pairs" -> ((s, d) => {
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", "source", 3, 0.3)
    }),

    "q77_containment_pairs" -> ((s, d) => {
      // Asymmetric containment (|A∩B|/|A| >= 0.8): finds docs mostly
      // embedded in a longer doc — the quote/snippet/partial-copy class a
      // symmetric Jaccard pass structurally misses. Every 17th doc with
      // >= 12 tokens plants a leading-12-token snippet (id + 10^7, same
      // source); the operator must recover each snippet's containers.
      // Probe-side prefix filter, full-block gram index, exact
      // integer-overlap verification.
      val docs = t(s, d, "documents")
      val tokens = split(trim(col("text")), "\\s+")
      val snippets = docs
        .filter(col("doc_id") % 17 === 0 && size(tokens) >= 12)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          array_join(slice(tokens, 1, 12), " ").as("text"), col("source"))
      Dedup.containmentPairs(docs.select("doc_id", "text", "source").union(snippets),
        "doc_id", "text", "source", 3, 0.8)
    }),

    "q46_dup_components" -> ((s, d) => {
      // Pairs → duplicate clusters: large-star/small-star connected
      // components over the (exact-verified) MinHash pair graph. One row per
      // paired doc; component = min doc_id reachable. `id = component`
      // selects the cluster representative a dedup keeps. The table is the
      // dedup chain's STORED ARTIFACT (built once per sf dir) — q121/q122/
      // q150 serve from it, the pipeline shape where cluster analytics
      // never re-mine the pair graph.
      dupComponents(s, d)
    }),

    "q26_simhash_pairs" -> ((s, d) => {
      // md5 token-hash family: same collapse/pigeonhole/emission machinery
      // as the xxh64 default, but every sketch is recomputable in DuckDB, so
      // the driver hash-checks the operator's full output (round 8; this
      // was rows-only while the sketch was xxhash64-seeded).
      Dedup.simHashDedupPairs(t(s, d, "documents"), "doc_id", "text", 3,
        tokenHash = "md5")
    }),

    "q27_ann_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "vec_id", "embedding", 5)
        .select("query_id", "rank", "neighbor_id")
    }),

    "q28_embed_near_pairs" -> ((s, d) => {
      Similarity.bruteForceNearPairs(t(s, d, "embeddings"), "vec_id", "embedding", 0.42)
        .select("id_a", "id_b")
    }),

    "q29_lsh_near_pairs" -> ((s, d) => {
      Similarity.lshNearPairs(t(s, d, "embeddings"), "vec_id", "embedding", 64, 0.42)
        .select("id_a", "id_b")
    }),

    "q36_simhash_dup_exact" -> ((s, d) => {
      Dedup.simHashExactDupPairs(t(s, d, "documents"), "doc_id", "text")
    }),

    "q33_ivf_topk" -> ((s, d) => {
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
    }),

    "q104_ivf_from_index" -> ((s, d) => {
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
    }),

    "q78_cluster_assign" -> ((s, d) => {
      // Corpus clustering for mixture analysis: the q33 centroid fit, then
      // a zero-shuffle map-side argmax assigns every vector a cluster. The
      // oracle replays the full Lloyd chain (shared CTE prefix with q33)
      // and the same (sim desc, cell asc) argmax tie-break.
      Similarity.clusterAssign(t(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 32)
    }),

    "q80_quantize_int8" -> ((s, d) => {
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
    }),

    "q81_heavy_hitters" -> ((s, d) => {
      // Exact heavy hitters at sketch cost: a mergeable Misra-Gries sketch
      // consumes token ARRAYS map-side (never exploding the corpus before
      // the exchange), proves candidate completeness via its error bound,
      // then an exact confirm pass counts only candidate hits. The oracle
      // is the brute-force count the sketch path must reproduce exactly.
      HeavyHitters.heavyHitters(t(s, d, "documents"), "text",
        threshold = 100L, capacity = 1024)
        .orderBy("token")
    }),

    "q82_boilerplate_lines" -> ((s, d) => {
      // Corpus-frequency boilerplate removal over a deterministic two-line
      // corpus: each doc = own text + the text of doc (id % 10). The second
      // line repeats across ~n/10 docs (boilerplate); the first is unique —
      // except for ids < 10, whose own line IS a boilerplate line and must
      // vanish from every document including its own (the semantics that
      // separate this from keep-first paragraph dedup).
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val d2 = docs.select(col("doc_id").as("id2"), col("text").as("t2"))
      val corpus = docs.join(d2, col("id2") === col("doc_id") % 10)
        .select(col("doc_id"), concat(col("text"), lit("\n"), col("t2")).as("text"))
      TextAnalysis.removeBoilerplateLines(corpus, "doc_id", "text", maxDocs = 30)
        .withColumnRenamed("id", "doc_id")
    }),

    "q83_source_overlap" -> ((s, d) => {
      // Cross-source contamination matrix over a deterministic shared
      // corpus: every doc carries the text of doc (id % 39) — 39 is coprime
      // with the 20-source layout (source = src(id % 20)), so each of the
      // 39 contents spans many sources. Digests, not texts, cross the
      // shuffle; per-content source sets expand to sorted pairs with no
      // corpus self-join.
      val docs = t(s, d, "documents")
      val d2 = docs.select(col("doc_id").as("id2"), col("text").as("t2"))
      val corpus = docs.join(d2, col("id2") === col("doc_id") % 39)
        .select(col("doc_id"), col("source"), col("t2").as("text"))
      Dedup.sourceOverlapMatrix(corpus, "text", "source")
        .orderBy("src_a", "src_b")
    }),

    "q84_normalize_text" -> ((s, d) => {
      // Canonical text form (NFC + ROOT lowercase + whitespace collapse +
      // trim) as a codegen'd unary expression. The plant prepends a
      // DECOMPOSED accent (e + U+0301) and mixed whitespace so the gate
      // fails unless the NFC pass, the case fold, and the collapse all
      // replay exactly in DuckDB's utf8proc-based mirror.
      t(s, d, "documents").select(col("doc_id"),
        graft.functions.TextPolicyFunctions.normalize_text(
          concat(lit("CAFÉ  "), upper(col("text")), lit("\tEND")))
          .as("normalized"))
        .orderBy("doc_id")
    }),

    "q85_banned_phrases" -> ((s, d) => {
      // Policy blocklist screening: one Aho-Corasick pass per document
      // (cost independent of blocklist size), emitted as a per-doc verdict.
      // The oracle replays the same semantics as a contains() chain — the
      // O(text x N) shape the automaton exists to avoid at scale.
      val phrases = Seq("slow scan", "fast merge", "window table", "hash join")
      t(s, d, "documents").select(col("doc_id"),
        graft.functions.TextPolicyFunctions.contains_any_phrase(col("text"), phrases)
          .as("banned"))
        .orderBy("doc_id")
    }),

    "q86_image_phash_dedup" -> ((s, d) => {
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
    }),

    "q87_token_budget_select" -> ((s, d) => {
      // Curriculum selection: the longest prefix of the (token_count DESC,
      // doc_id ASC) ordering whose cumulative tokens fit a 15k budget,
      // found on the per-score histogram instead of a single-task global
      // window. The oracle replays the naive global window — identical
      // keep set, the shape the operator exists to avoid.
      val d0 = t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("tc"))
        .where(col("tc") > 0)
      Sampling.selectByTokenBudget(d0, "doc_id", "tc", "tc", budget = 15000L)
        .select("doc_id", "tc")
        .orderBy("doc_id")
    }),

    "q88_image_near_dup" -> ((s, d) => {
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
    }),

    "q89_shuffle_order" -> ((s, d) => {
      // Deterministic epoch shuffle: salt-keyed md5 total order with an
      // explicit rank, computed via the 256-bucket histogram + partitioned
      // window (no global-order single-task window). The oracle IS that
      // naive global window — identical positions by construction.
      Sampling.shuffleOrder(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "epoch0")
        .select("doc_id", "shuffle_pos")
        .orderBy("doc_id")
    }),

    "q90_salted_join" -> ((s, d) => {
      // Salted skew join: lineitem (large, possibly hot orderkeys) against
      // orders replicated over 8 salt sub-keys; result must equal the
      // plain join exactly — the oracle runs the unsalted shape.
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          dec2(col("l_extendedprice")).as("px"))
      val ord = t(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Skew.saltedEquiJoin(li, ord, "l_orderkey", "l_linenumber", salt = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), sum(col("px")).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    }),

    "q91_pair_set_eval" -> ((s, d) => {
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
    }),

    "q92_score_calibration" -> ((s, d) => {
      // Cross-source score calibration: raw token-count "quality" becomes
      // an integer permille percentile WITHIN each source, so one global
      // threshold means the same thing for every source. Integer DIV
      // arithmetic end to end — no float seam for the oracle to trip on.
      val scored = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("tc"))
      graft.pipeline.Eval.percentileCalibrate(scored, "source", "tc")
        .orderBy("doc_id")
    }),

    "q93_audio_near_dup" -> ((s, d) => {
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
    }),

    "q94_curation_audit" -> ((s, d) => {
      // Per-document curation lineage: the FIRST stage of the q55 pipeline
      // that drops each doc ('lang' -> 'quality' -> 'duplicate' ->
      // 'contaminated' -> 'capped'), else 'kept'. The observability face
      // of the same operators: every drop is attributable, and the oracle
      // replays the identical stage chain per doc. Survivor-id sets ride
      // id-only left joins — no text crosses a join exchange.
      // Corpus = documents plus a planted copy of every 20th doc (id +
      // 100000), so the 'duplicate' verdict branch is exercised too.
      val base = t(s, d, "documents")
      val docs = base.unionByName(base.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")))
      val langOk = TextAnalysis.langId(col("text")) === "en"
      val qualOk = TextAnalysis.tokenCount(col("text")) >= 30 &&
        TextAnalysis.punctRatio(col("text")) < 0.1
      // Flags computed ONCE over a spread scan, then checkpointed: the
      // verdict assembly reads the chain's stage sets through four
      // branches (ddIds, clIds, cpIds, the flag projection), each of
      // which previously re-ran the tokenize/langId/punct scan from
      // parquet — ~4x the flag work, serial on the unsplittable input.
      val flagged = spread(docs)
        .withColumn("__lang", langOk).withColumn("__qual", qualOk)
        .localCheckpoint(eager = false)
      val filtered = flagged.where(col("__lang") && col("__qual"))
        .drop("__lang", "__qual")
      val deduped = Dedup.exactDedup(filtered, "doc_id", "text")
      val bench = flagged.filter(col("doc_id") % 37 === 0)
      val clean = Decontaminate.decontaminate(deduped, "doc_id", "text", bench, "text", 5)
      val capped = Sampling.capPerKey(clean, "source", 10, "doc_id", salt = "cap6")
      val ddIds = deduped.select(col("doc_id")).withColumn("__dd", lit(1))
      val clIds = clean.select(col("doc_id")).withColumn("__cl", lit(1))
      val cpIds = capped.select(col("doc_id")).withColumn("__cp", lit(1))
      flagged.select(col("doc_id"), col("__lang"), col("__qual"))
        .join(ddIds, Seq("doc_id"), "left")
        .join(clIds, Seq("doc_id"), "left")
        .join(cpIds, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(!col("__lang"), "lang")
            .when(!col("__qual"), "quality")
            .when(col("__dd").isNull, "duplicate")
            .when(col("__cl").isNull, "contaminated")
            .when(col("__cp").isNull, "capped")
            .otherwise("kept").as("verdict"))
        .orderBy("doc_id")
    }),

    "q96_token_rarity" -> ((s, d) => {
      // Rarity-calibrated novelty signal: vocabulary ranked rare-high in
      // integer permille, per-doc mean. The global window only ever sees
      // the vocabulary, never the corpus.
      TextAnalysis.tokenRarityScore(t(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "q97_hash_embed" -> ((s, d) => {
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
    }),

    "q98_within_doc_dedup" -> ((s, d) => {
      // WITHIN-doc line dedup (keep first, in order) over the q42-style
      // planted corpus: own text + text of doc (id % 10) + own text again
      // — the third line always drops, the second only for ids where
      // id % 10 == id. Pure map expression, zero shuffle.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val d2 = docs.select(col("doc_id").as("id2"), col("text").as("t2"))
      val corpus = docs.join(d2, col("id2") === col("doc_id") % 10)
        .select(col("doc_id"),
          concat(col("text"), lit("\n"), col("t2"), lit("\n"), col("text")).as("text"))
      corpus.select(col("doc_id"),
        TextAnalysis.dedupLinesWithinDoc(col("text")).as("cleaned"))
        .orderBy("doc_id")
    }),

    "q99_bucketed_join" -> ((s, d) => {
      // Co-located join via bucketing: both sides written CLUSTERED BY the
      // join key into the same bucket count, so repeated joins on that key
      // read pre-partitioned data and plan NO exchange on either side
      // (BucketedJoinSuite pins the plan with broadcast disabled) — the
      // amortize-the-shuffle-once pattern for fact tables joined daily at
      // 100 TB. Results must equal the plain join, which is the oracle.
      // The tables live in this session's catalog, so their files live in
      // this JVM's scratch directory and are written once per session.
      val sfName = new java.io.File(d).getName.replace('.', '_')
      val liName = s"graft_li_b_$sfName"
      val ordName = s"graft_ord_b_$sfName"
      s.synchronized {
        if (!s.catalog.tableExists(liName)) {
          val root = Fixtures.scratch(s"bucketed_$sfName")
          t(s, d, "lineitem")
            .select(col("l_orderkey"), dec2(col("l_extendedprice")).as("px"))
            .write.format("parquet").bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey").option("path", s"$root/li")
            .mode("overwrite").saveAsTable(liName)
          t(s, d, "orders")
            .select(col("o_orderkey"), col("o_orderpriority"))
            .write.format("parquet").bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey").option("path", s"$root/ord")
            .mode("overwrite").saveAsTable(ordName)
        }
      }
      s.table(liName)
        .join(s.table(ordName), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("px")).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    }),

    "q100_image_dedup_e2e" -> ((s, d) => {
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
    }),

    "q101_partitioned_layout" -> ((s, d) => {
      // Hive-style partitioned XML layout end to end: partitioned write
      // (source=<v>/ directories, each part file a complete XML document),
      // partition-discovery read with values rebuilt from the path, and a
      // partition filter the planner applies to the directory listing of
      // one scan (XmlPartitionedSuite pins the plan). Oracle: plain SQL
      // over the same two sources.
      val path = Fixtures.once(d, "partitioned_v2") {
        graft.xml.XmlPartitioned.write(
          t(s, d, "documents").select("doc_id", "text", "lang", "source"),
          _, Seq("source"), Map("rowTag" -> "doc"))
      }
      val dataSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType)))
      graft.xml.XmlPartitioned.read(s, path, Map("rowTag" -> "doc"), Some(dataSchema))
        .where(col("source").isin("src3", "src7"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))
        .orderBy("source")
    }),

    "q102_kmv_ledger" -> ((s, d) => {
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
    }),

    "q103_incremental_minhash" -> ((s, d) => {
      // Incremental near-dup: even-id docs form the curated index (built
      // once, persisted to parquet); a bounded batch of odd-id docs (< 500
      // — the probe contract is batch MUCH SMALLER than corpus, the daily-
      // ingest shape) probes it without recomputing index signatures. The
      // oracle is the exact cross Jaccard join at the same threshold, i.e.
      // the banding must lose nothing.
      val docs = t(s, d, "documents")
      val index = minHashIndexEven(s, d)
      Dedup.minHashPairsAgainstIndex(
        docs.where(col("doc_id") % 2 === 1 && col("doc_id") < 500),
        "doc_id", "text", index, 0.9)
        .orderBy("batch_id", "index_id")
    }),

    "q105_stream_index_probe" -> ((s, d) => {
      // Streaming ingest meets the persisted near-dup index: odd-id docs
      // stream through the xmlng source; each micro-batch probes the
      // stored even-id MinHash index via foreachBatch (the probe is the
      // BATCH operator — stateless per batch against a static index, so
      // no streaming-side aggregation state at all), flagged pairs land
      // in a parquet sink. Every doc arrives in exactly one batch, so the
      // drained union equals q103's batch probe — gated by the same exact
      // cross-parity oracle.
      val docs = t(s, d, "documents")
      val index = minHashIndexEven(s, d)
      val batchIn = docs
        .where(col("doc_id") % 2 === 1 && col("doc_id") < 500)
        .select("doc_id", "text")
      val xin = xmlInput(d, "stream_probe_in_v1", "doc")(batchIn)
      val base = Fixtures.scratch("stream_probe_run")
      val stream = s.readStream.format("xmlng").option("rowTag", "doc")
        .schema(batchIn.schema).load(xin)
      drain(s, stream, base) { bdf =>
        Seq("out" -> Dedup.minHashPairsAgainstIndex(bdf, "doc_id", "text", index, 0.9))
      }.orderBy("batch_id", "index_id")
    }),

    "q106_script_profile" -> ((s, d) => {
      // Encoding/script health profile: the synthetic corpus is ASCII, so
      // each doc plants a deterministic suffix keyed by doc_id — cyrillic,
      // CJK, arabic, or a replacement-char + control-char mojibake tail —
      // and docs with doc_id % 8 >= 4 are suffix-ONLY, so every counter,
      // every dominant-script branch (incl. 'none'), and the damage flag
      // all fire. Explicit codepoint ranges make every count an integer
      // the oracle replays exactly. No orderBy: order-insensitive gate; a
      // sort's sampling pass would run the regex chain twice.
      val m4 = col("doc_id") % 4
      val suffix = when(m4 === 0, lit("Привет мир"))
        .when(m4 === 1, lit("你好世界"))
        .when(m4 === 2, lit("مرحبا بالعالم"))
        .otherwise(concat(lit("�"), expr("chr(7)"), lit(".")))
      val planted = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 8 < 4, concat(col("text"), lit(" "), suffix))
          .otherwise(suffix).as("text"))
      TextAnalysis.withScriptProfile(planted, "text")
        .select(col("doc_id"), col("latin_cnt"), col("cyrillic_cnt"),
          col("cjk_cnt"), col("arabic_cnt"), col("ascii_printable_cnt"),
          col("control_cnt"), col("replacement_cnt"), col("char_cnt"),
          col("dominant_script"), col("mojibake"))
    }),

    "q133_fuzzy_lookup" -> ((s, d) => {
      // SymSpell fuzzy term lookup: the rank-20 vocabulary token with its
      // first character dropped (a deterministic "typo") matched against
      // the vocabulary via deletion-variant join + levenshtein verify —
      // the oracle does the brute-force levenshtein scan the index avoids.
      val docs = t(s, d, "documents")
      val vocab = Search.documentFrequencies(
        Search.buildInvertedIndex(docs, "doc_id", "text"))
      // Deepest-ranked top-20 token of length >= 2: dropping the first
      // character of a single-character token would yield an empty query
      // and abort the run on fuzzyTermLookup's require.
      val term = TextAnalysis.topTokens(docs, "text", 20)
        .orderBy(desc("freq"), asc("token"))
        .collect().map(_.getString(0)).filter(_.length >= 2).last
      Search.fuzzyTermLookup(vocab, term.drop(1)).orderBy("token")
    }),

    "q134_asof_join" -> ((s, d) => {
      // As-of join: each click matches the latest view AT OR BEFORE it
      // per user (the quote-to-trade join shape). Union-and-window — one
      // key shuffle, |clicks|+|views| rows, no pair blow-up, vs DuckDB's
      // NATIVE ASOF JOIN as the oracle. Unmatched sentinels are -1 (not
      // null) so the integer columns stay int64 through both engines'
      // pandas conversion. Views pre-aggregate to ONE row per
      // (user_id, ts) — max value — so the gate never depends on which
      // row an engine picks among (key, ts) ties: DuckDB's native ASOF
      // breaks ties arbitrarily, the operator by value digest, and a
      // data regen must not be able to make the two disagree.
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      Joins.asofJoin(clicks, views, Seq("user_id"), "ts", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          coalesce(col("matched_ts"), lit(-1L)).as("matched_ts"),
          coalesce(col("matched_value"), lit(-1.0)).as("matched_value"))
        .orderBy("event_id")
    }),

    "q137_asof_bucketed" -> ((s, d) => {
      // The SAME as-of join as q134 through the skew-proof bucketed
      // operator (6-hour time buckets): a hot user's scan splits across
      // buckets, the carry-in window sees only per-bucket closing
      // summaries. Identical semantics ⇒ the identical native-ASOF
      // oracle gates it (with the same tie-proof view pre-aggregation
      // as q134).
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      Joins.asofJoinBucketed(clicks, views, Seq("user_id"), "ts", "ts",
          Seq("value"), bucketWidthMicros = 6L * 3600L * 1000000L)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          coalesce(col("matched_ts"), lit(-1L)).as("matched_ts"),
          coalesce(col("matched_value"), lit(-1.0)).as("matched_value"))
        .orderBy("event_id")
    }),

    "q143_fuzzy_indexed" -> ((s, d) => {
      // The SymSpell lifecycle done right: the deletion-variant index
      // builds ONCE from the vocabulary and persists as parquet; TWO
      // different typo queries then probe the SAME stored rows — no
      // per-query variant rebuild (the q133 one-shot's documented
      // weakness). Queries: the deepest-ranked and top-ranked length>=2
      // top-20 tokens, with the first/last character dropped. Oracle:
      // the brute-force levenshtein scan for both queries.
      val docs = t(s, d, "documents")
      val top = TextAnalysis.topTokens(docs, "text", 20)
        .orderBy(desc("freq"), asc("token"))
        .collect().map(_.getString(0)).filter(_.length >= 2)
      val qa = top.last.drop(1)
      val qb = top.head.dropRight(1)
      val idx = s.read.parquet(Fixtures.once(d, "deletion_index") { p =>
        Search.buildDeletionIndex(Search.documentFrequencies(
            Search.buildInvertedIndex(docs, "doc_id", "text")))
          .write.parquet(p)
      })
      Search.fuzzyLookupIndexed(idx, qa).withColumn("query", lit(qa))
        .unionByName(Search.fuzzyLookupIndexed(idx, qb).withColumn("query", lit(qb)))
        .select(col("query"), col("token"), col("df_count"))
        .orderBy("query", "token")
    }),

    "q144_asof_forward" -> ((s, d) => {
      // As-of FORWARD join: each click matches the NEXT view at or after
      // it per user (time-to-next-impression attribution) — the backward
      // machinery on negated timestamps, routed through the skew-proof
      // bucketed path (6-hour buckets). Oracle: DuckDB native ASOF with
      // the comparison flipped (c.ts <= v.ts). Same tie-proof view
      // pre-aggregation and -1 sentinels as q134.
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      Joins.asofJoinForward(clicks, views, Seq("user_id"), "ts", "ts",
          Seq("value"), bucketWidthMicros = Some(6L * 3600L * 1000000L))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          coalesce(col("matched_ts"), lit(-1L)).as("matched_ts"),
          coalesce(col("matched_value"), lit(-1.0)).as("matched_value"))
        .orderBy("event_id")
    }),

    "q145_asof_nearest" -> ((s, d) => {
      // As-of NEAREST join: each click matches its closest view in TIME,
      // either direction, ties resolving backward — the sensor-alignment
      // shape. Composition of the backward and forward passes with one
      // boolean picking a side for every matched column. Oracle: two
      // DuckDB native ASOF joins combined by the same distance rule.
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      Joins.asofJoinNearest(clicks, views, Seq("user_id"), "ts", "ts",
          Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          coalesce(col("matched_ts"), lit(-1L)).as("matched_ts"),
          coalesce(col("matched_value"), lit(-1.0)).as("matched_value"))
        .orderBy("event_id")
    }),

    "q172_disjunctive_search" -> ((s, d) => {
      // The recall-oriented OR query over the stored inverted index:
      // docs matching ANY of vocabulary ranks 18-21, with matched-term
      // counts (weak-AND ranks on them). Posting-filter cost only.
      val docs = t(s, d, "documents")
      val index = invertedIndex(s, d)
      val terms = TextAnalysis.topTokens(docs, "text", 21)
        .orderBy(desc("freq"), asc("token"))
        .collect().map(_.getString(0)).slice(17, 21).toSeq
      Search.searchDisjunctive(index, terms).orderBy("id")
    }),

    "q173_proximity_search" -> ((s, d) => {
      // "These words appear together": vocabulary ranks 1 and 2 within
      // 3 positions of each other in either order, closest distance per
      // doc — an id equi-join of two posting lists from the stored
      // positional index, |Δpos| as a residual bound.
      val docs = t(s, d, "documents")
      val pidx = positionalIndex(s, d)
      val ts = TextAnalysis.topTokens(docs, "text", 2)
        .orderBy(desc("freq"), asc("token"))
        .collect().map(_.getString(0)).toSeq
      Search.searchProximity(pidx, ts.head, ts(1), slop = 3)
        .orderBy("id")
    }),

    "q174_prototypicality" -> ((s, d) => {
      // The SemDeDup-family pruning signal: per label, each embedding's
      // exact integer L1 distance to the group centroid (micro seam,
      // truncating-div means) and its atypicality percentile — keep the
      // tail for diversity or drop it as noise, reproducibly on any
      // engine.
      Similarity.prototypicalityRank(t(s, d, "embeddings"),
          "vec_id", "embedding", "label")
        .orderBy("id")
    }),

    "q175_triangle_counts" -> ((s, d) => {
      // Per-node triangles + local clustering coefficient over the
      // planted community/hub graph — degree-ordered orientation, so
      // wedge enumeration roots at spokes, never at the 100-degree hubs.
      Graph.triangleCounts(plantedTriangleEdges(s, d), "src", "dst")
        .orderBy("node")
    }),

    "q176_winnow_fingerprints" -> ((s, d) => {
      // MOSS robust winnowing (k=3 token grams, window 4): every doc's
      // selected (pos, fp) set — one window pass per doc, rightmost-min
      // picked by a single min(struct(hash, -pos)) frame expression.
      TextAnalysis.winnowingFingerprints(spread(t(s, d, "documents")),
          "doc_id", "text", k = 3, w = 4)
        .orderBy("doc_id", "pos")
    }),

    "q177_winnow_overlap" -> ((s, d) => {
      // Contamination/clone detection on the winnowed sets: doc pairs
      // sharing >= 5 distinct fingerprints, through a fingerprint
      // equi-join — ubiquitous fingerprints (> 50 docs) are dropped
      // first (they carry no dup signal and their buckets are the skew),
      // so the join cost is Σ C(df, 2) over RARE fingerprints only.
      // Serves from the STORED fingerprint table (built once — the MOSS
      // pipeline shape; q176 is the gate that times the selection pass).
      val fps = s.read.parquet(Fixtures.once(d, "winnow_fps_k3w4") { p =>
          TextAnalysis.winnowingFingerprints(t(s, d, "documents"),
            "doc_id", "text", k = 3, w = 4).write.parquet(p)
        })
        .select(col("doc_id"), col("fp")).distinct()
      val rare = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .where(col("__df") <= 50).select("fp")
      val kept = fps.join(rare, "fp")
      kept.select(col("fp"), col("doc_id").as("doc_a"))
        .join(kept.select(col("fp"), col("doc_id").as("doc_b")), "fp")
        .where(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("shared_fps"))
        .where(col("shared_fps") >= 5)
        .orderBy("doc_a", "doc_b")
    }),

    "q178_cms_frequencies" -> ((s, d) => {
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
    }),

    "q179_record_linkage" -> ((s, d) => {
      // Blocking + edit-distance record linkage: a deterministically
      // dirtied parts feed (one char deleted for 2/3 of rows) links back
      // to the catalog within p_brand blocks by Levenshtein <= 2, best
      // match by (distance, partkey). Unmatched rows surface with null
      // match — the reject split is the audit.
      val part = t(s, d, "part")
      val dirty = part.select(col("p_partkey").as("import_id"),
        col("p_brand"),
        Linkage.injectTypos("p_name", "p_partkey").as("p_name"))
      Linkage.linkByEditDistance(
          dirty, "import_id",
          part.select(col("p_partkey"), col("p_brand"), col("p_name")),
          "p_partkey", "p_name", "p_brand", maxDistance = 2)
        .orderBy("import_id")
    }),

    "q180_rolling_anomaly" -> ((s, d) => {
      // Ingest-volume monitoring: hourly per-type event counts (with a
      // planted 12x spike every 101st epoch-hour so the positive branch
      // provably fires), each bucket z-tested against its own trailing
      // 24 observed hours in pure integer arithmetic — no float
      // mean/stddev anywhere, so the flags replay bit-for-bit.
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hb"))
        .agg(count(lit(1)).as("raw"))
        .select(col("event_type"), col("hb"),
          expr("raw * (CASE WHEN hb % 101 = 0 THEN 12 ELSE 1 END)").as("cnt"))
      Sessionize.rollingAnomalies(hourly, "event_type", "hb", "cnt",
          window = 24, zThresholdPermille = 3000L, minHistory = 6)
        .select(col("event_type"), col("hb"), col("cnt"), col("history_n"),
          col("mean_milli"), col("is_anomaly"), col("direction"))
        .orderBy("event_type", "hb")
    }),

    "q181_zorder_extents" -> ((s, d) => {
      // Z-order layout planning: lineitem's (partkey, suppkey) scaled to
      // 8-bit grids, Morton-interleaved by pure shift/mask expressions,
      // range-bucketed into 64 "files" — the per-bucket min/max extent
      // table IS the footer statistics a box predicate would prune with.
      val li = t(s, d, "lineitem")
      val m = broadcast(li.agg(max("l_partkey").as("__xm"),
        max("l_suppkey").as("__ym")))
      val scaled = li.crossJoin(m).select(
        Layout.scaleToBits(col("l_partkey"), col("__xm"), 8).as("xb"),
        Layout.scaleToBits(col("l_suppkey"), col("__ym"), 8).as("yb"))
      Layout.zOrderExtents(scaled, "xb", "yb", bits = 8, buckets = 64)
        .orderBy("bucket")
    }),

    "q182_ppl_buckets" -> ((s, d) => {
      // CCNet head/middle/tail quality bands, closing the LM lifecycle:
      // odd docs score against the STORED even-half bigram LM (the q113
      // artifact, built once), scores calibrate to integer permille
      // WITHIN source (the q92 rule — one global tercile would just
      // rank sources against each other), and terciles label each doc
      // head (most corpus-typical), middle, or tail. Un-scoreable docs
      // (< 2 tokens, null score) rank lowest — tail by construction,
      // not by special case.
      val docs = t(s, d, "documents")
      val model = bigramLm(s, d)
      val scored = TextAnalysis.bigramLmScoreWithModel(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text", model)
        .withColumnRenamed("id", "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
      graft.pipeline.Eval.percentileCalibrate(
          scored, "source", "lm_score_micronats")
        .withColumn("band",
          when(col("score_permille") >= 667, "head")
            .when(col("score_permille") >= 334, "middle")
            .otherwise("tail"))
        .select("doc_id", "source", "lm_score_micronats", "score_permille",
          "band")
        .orderBy("doc_id")
    }),

    "q183_mad_outliers" -> ((s, d) => {
      // Robust numeric outlier screen: per event type, |x − median| >
      // 3·1.4826·MAD in pure integer arithmetic (micro quantization,
      // histogram-rule medians, cross-multiplied inequality) — the
      // metadata sanity gate where mean/stddev would let a giant
      // outlier inflate its own threshold and mask itself.
      Profile.madOutlierReport(events(s, d), Seq("event_type"),
          "event_id", "value", sigmas = 3)
        .orderBy("event_id")
    }),

    "q184_random_projection" -> ((s, d) => {
      // Johnson–Lindenstrauss sparse sign projection 64 → 16: the
      // dimensionality-reduction step in front of ANN when the raw
      // embedding is too wide to move at corpus scale. The ±1/0 matrix
      // derives from md5 (1/6, 2/3, 1/6 probabilities), never a driver
      // RNG; components are exact integer micro sums.
      Similarity.randomProjectSparse(t(s, d, "embeddings"), "vec_id",
          "embedding", inDims = 64, outDims = 16)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id", "k")
    }),

    "q185_stream_dedup_ledger" -> ((s, d) => {
      // STATEFUL streaming dedup: documents drain through the xmlng
      // stream source and dropDuplicates keeps cross-batch digest state,
      // so a duplicate arriving in a LATER micro-batch is suppressed —
      // the op q58's stateless filters can't express. The surviving
      // digest ledger is batch-boundary-independent and equals the
      // batch DISTINCT set exactly; only the digest is emitted (which
      // physical row won is an arrival-order accident, the digest set
      // is the invariant).
      val docs = t(s, d, "documents").select("doc_id", "text", "source")
      val path = xmlInput(d, "stream_dedup_v1", "doc")(docs)
      val sinkName = "q185_sink_" + new java.io.File(d).getName.replace('.', '_')
      // dropDuplicates keeps per-digest state — size its partitions to
      // the input (see stateShufflePartitions), not the core count.
      withShufflePartitions(s, stateShufflePartitions(s, Seq(path))) {
        val stream = s.readStream.format("xmlng").option("rowTag", "doc")
          .schema(docs.schema).load(path)
        val ledger = stream
          .select(md5(to_binary(coalesce(col("text"), lit("")),
            lit("utf-8"))).as("digest"))
          .dropDuplicates("digest")
        val q = ledger.writeStream.format("memory").queryName(sinkName)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sinkName).orderBy("digest")
    }),

    "q186_hll_distinct" -> ((s, d) => {
      // Per-source distinct-token HLL estimate next to the exact count:
      // 16 register rows per source cross the exchange regardless of
      // vocabulary size — the countDistinct replacement when distinct
      // values are themselves data-scale. Estimates are md5-derived and
      // the estimator SQL is shared verbatim with the oracle, so the
      // sketch value itself is the gate, not just the row count.
      val toks = t(s, d, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      val exact = toks.groupBy("source")
        .agg(countDistinct(col("token")).as("n_exact"))
      HeavyHitters.hllDistinct(toks, Seq("source"), "token")
        .join(exact, "source")
        .select(col("source"), col("n_exact"), col("registers_set"),
          col("est_micro"))
        .orderBy("source")
    }),

    "q188_stream_stream_join" -> ((s, d) => {
      // STREAM-STREAM inner join with event-time range — the attribution
      // shape (purchase matches clicks of the same user within
      // [click_ts, click_ts + 2h]), on two independent xmlng streams.
      // Event time rides the XML roundtrip as exact epoch micros and
      // reconstructs to a timestamp for the watermark; the watermark
      // delay is set past the corpus's 30-day span so the equality gate
      // is batch-boundary-independent (state eviction can never drop a
      // legitimate match) — production tightens it to bound state, the
      // whole reason stream-stream joins demand watermarks at all.
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"))
      // Few large input files, not 32 slivers: the stream pays per-file
      // listing + per-task overhead every drain, and the join's state
      // shuffle re-partitions anyway, so sliver-parallelism buys nothing.
      val cPath = xmlInput(d, "ss_clicks_v1", "ev")(
        ev.where(col("event_type") === "click").coalesce(4))
      val pPath = xmlInput(d, "ss_purchases_v1", "ev")(
        ev.where(col("event_type") === "purchase").coalesce(4))
      val sinkName = "q188_sink_" + new java.io.File(d).getName.replace('.', '_')
      // State partitions sized to the INPUT, not the core count — see
      // stateShufflePartitions: the join's state shuffle repartitions
      // anyway, and per-partition store commits dominate a small drain.
      withShufflePartitions(s, stateShufflePartitions(s, Seq(cPath, pPath))) {
        def read(path: String) = s.readStream.format("xmlng")
          .option("rowTag", "ev").schema(ev.schema).load(path)
        val clicks = read(cPath)
          .select(col("event_id").as("click_id"), col("user_id"),
            timestamp_micros(col("ts_us")).as("click_ts"))
          .withWatermark("click_ts", "60 days")
        val purchases = read(pPath)
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("__pu"),
            timestamp_micros(col("ts_us")).as("purchase_ts"))
          .withWatermark("purchase_ts", "60 days")
        val joined = clicks.join(purchases,
          col("user_id") === col("__pu") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 2 HOURS"))
          .select(col("click_id"), col("purchase_id"), col("user_id"))
        val q = joined.writeStream.format("memory").queryName(sinkName)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sinkName).orderBy("click_id", "purchase_id")
    }),

    "q189_ngram_novelty" -> ((s, d) => {
      // Corpus-accretion novelty: per doc, the share of its distinct
      // 5-grams whose FIRST corpus occurrence is this doc — near 0 the
      // refresh is re-serving the tail, near 1000 it's genuinely new
      // text. Hash-keyed gram shuffles only (the q50/q109 machinery).
      TextAnalysis.ngramNoveltyReport(t(s, d, "documents"),
          "doc_id", "text", 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "q191_scd2_intervals" -> ((s, d) => {
      // SCD2 dimension build from a change feed: signup events carry a
      // derived plan tier; per user, no-op changes collapse and each
      // surviving change opens a validity interval closed by the next —
      // the table the q134 as-of lookups read. event_id is the total-
      // order tiebreaker (change feeds carry equal timestamps).
      val ch = events(s, d).where(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("pmod(CAST(round(value * 1e6) AS BIGINT), 5)").as("tier"))
      Joins.scd2Intervals(ch, "user_id", "ts", "event_id", "tier")
        .orderBy("user_id", "valid_from")
    }),

    "q200_ann_from_codes" -> ((s, d) => {
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
    }),

    "q201_markup_strip" -> ((s, d) => {
      // Web-crawl text extraction: every document planted inside a
      // deterministic HTML page (style + conditional script blocks whose
      // payloads contain bare '<' and a fake tag, a comment, real tags,
      // all six common entities incl. the double-escape '&amp;amp;') is
      // stripped back to clean text by the map-side regexp/replace chain
      // — the step in FRONT of every quality/dedup operator on a real
      // crawl. Zero shuffle; the oracle replays the identical RE2-safe
      // chain step for step.
      t(s, d, "documents")
        .select(col("doc_id"), expr(markupFixtureSql).as("raw"))
        .select(col("doc_id"),
          TextAnalysis.stripMarkup(col("raw")).as("clean_text"))
        .orderBy("doc_id")
    }),

    "q204_kmeans_lloyd" -> ((s, d) => {
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
    }),

    "q232_retrieval_lifecycle" -> ((s, d) => {
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
    }),

    "q237_kmeans_twolevel" -> ((s, d) => {
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
    }),

    "q242_twolevel_serve" -> ((s, d) => {
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
    }),

    "q243_twolevel_refresh" -> ((s, d) => {
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
    }),

    "q245_weighted_mixture" -> ((s, d) => {
      // Mixture construction: a 10,000-slot training budget apportioned
      // across languages by n_k × mixture-weight (en:4 es:3 fr:2 de:1;
      // zh carries no weight — reported, never allocated), exact
      // weighted Hamilton in DECIMAL(38,0). The budget exceeds the
      // corpus at every sf, so high-weight strata upsample past their
      // size (alloc > n — the epoch-repetition semantics a training
      // mixture wants); Σ alloc = 10,000 exactly. One count per key,
      // |keys|-row window arithmetic only.
      Sampling.weightedAllocation(t(s, d, "documents"), "lang",
          Map("en" -> 4L, "es" -> 3L, "fr" -> 2L, "de" -> 1L), 10000L)
        .orderBy("key")
    }),

    "q246_mixture_manifest" -> ((s, d) => {
      // The q245 mixture MATERIALIZED: per-document integer multiplicity
      // (alloc div n epochs each, +1 for the alloc mod n salted-rank
      // winners — capPerKey's md5 order, layout-independent), rows with
      // multiplicity 0 dropped. Σ multiplicity = the 10,000-slot budget
      // exactly; upsampled strata repeat, zh never appears. This is the
      // table a mixture-training run consumes.
      Sampling.sampleWeightedMixture(
          t(s, d, "documents").select("doc_id", "lang"), "lang", "doc_id",
          Map("en" -> 4L, "es" -> 3L, "fr" -> 2L, "de" -> 1L),
          10000L, salt = "mix1")
        .select(col("doc_id"), col("lang"), col("multiplicity"))
        .orderBy("lang", "doc_id")
    }),

    "q244_hybrid_rrf" -> ((s, d) => {
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
    }),

    "q238_semdedup_twolevel" -> ((s, d) => {
      // SemDeDup on the HIERARCHICAL trainer — the 100×-corpus path:
      // flatKMax=1 forces the two-level route at the derived k (⌈500/64⌉
      // = 8 → 3 coarse shards × 3 fine), so this gate pins the exact
      // end-to-end chain a driver-bounded 100-TB run would execute —
      // two-level assignment, within-cluster cosine pairs at the q28
      // seam, component collapse, survivor anti-join.
      Similarity.semDeDupWithinClusters(t(s, d, "embeddings"),
          "vec_id", "embedding", iters = 2, threshold = 0.42,
          flatKMax = 1)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),

    "q241_release_prep" -> ((s, d) => {
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
    }),

    "q240_stream_nb_score" -> ((s, d) => {
      // The stored QUALITY CLASSIFIER deployed on the streaming surface
      // (the r14 verdict gap; the q162 stored-model-at-stream-time
      // convention): q234's persisted NB weight table scores each
      // micro-batch of the odd-id half as it drains through the xmlng
      // source — the natural quality-gate deployment in an ingestion
      // pipeline. Per-doc scores are batch-boundary-independent (the
      // model is frozen, scoring is map-side), so the drained set equals
      // the batch score of the same half exactly — the oracle's replay.
      val docs = t(s, d, "documents")
      val weights = nbWeights(s, d)
      val batchIn = docs.where(col("doc_id") % 2 === 1).select("doc_id", "text")
      val xin = xmlInput(d, "stream_nb_in_v1", "doc")(batchIn)
      val base = Fixtures.scratch("stream_nb_run")
      val stream = s.readStream.format("xmlng").option("rowTag", "doc")
        .schema(batchIn.schema).load(xin)
      drain(s, stream, base) { bdf =>
        Seq("out" -> Classify.nbScoreHashed(bdf, "doc_id", "text", weights))
      }.withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "q247_stream_dsir_score" -> ((s, d) => {
      // The stored DSIR λ table deployed on the STREAMING surface —
      // the q240 convention on the importance-weighting model: each
      // micro-batch of the odd-id half scores map-side against the
      // frozen 256-bucket grid as it drains through the xmlng source
      // (data-selection-at-ingestion). Scoring is stateless and the
      // model frozen, so the drained set equals the batch score of the
      // same half exactly — the oracle's fit + score replay.
      val docs = t(s, d, "documents")
      val lambda = dsirLambda(s, d)
      val batchIn = docs.where(col("doc_id") % 2 === 1).select("doc_id", "text")
      val xin = xmlInput(d, "stream_dsir_in_v1", "doc")(batchIn)
      val base = Fixtures.scratch("stream_dsir_run")
      val stream = s.readStream.format("xmlng").option("rowTag", "doc")
        .schema(batchIn.schema).load(xin)
      drain(s, stream, base) { bdf =>
        Seq("out" -> Classify.dsirScoreHashed(bdf, "doc_id", "text", lambda))
      }.withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "q248_semdedup_incremental" -> ((s, d) => {
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
    }),

    "q249_stream_twolevel_serve" -> ((s, d) => {
      // The stored CLUSTERING model deployed on the STREAMING surface —
      // the q240/q247 convention on the third stored-model family:
      // q242's coarse+fine parquet artifacts route each micro-batch of a
      // fresh embedding stream (broadcast coarse argmin + shard-keyed
      // fine argmin inside foreachBatch; serve is stateless and the
      // model frozen, so the drained union equals q242's batch serve
      // exactly — the oracle replays fit + serve). Embeddings stream as
      // parquet files (vectors are not an XML-native payload; the
      // file-source micro-batching is the same). 32 input files at
      // maxFilesPerTrigger=8 → 4 micro-batches of 8 SPLITS each: the
      // batch-boundary independence is exercised AND each batch's
      // CPU-heavy argmin scan keeps file-level parallelism — one file
      // per trigger would run the serve map work on a single split per
      // micro-batch, the classic file-stream under-parallelism trap.
      val emb = t(s, d, "embeddings")
      val (coarse, fine) = twoLevelModel(s, d)
      val fresh = emb.select((col("vec_id") + 100000).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      val pin = Fixtures.once(d, "stream_tl_in_v2")(fresh.repartition(32).write.parquet(_))
      val base = Fixtures.scratch("stream_tl_run")
      val stream = s.readStream.option("maxFilesPerTrigger", 8)
        .schema(fresh.schema).parquet(pin)
      drain(s, stream, base) { bdf =>
        Seq("out" -> Similarity.kmeansTwoLevelServe(bdf, "vec_id", "embedding",
            coarse, fine, kFine = 3))
      }.orderBy("id")
    }),

    "q250_mixture_epoch_plan" -> ((s, d) => {
      // The mixture EPOCH PLAN composed end to end (q126's chain with
      // the weighted mixture replacing temperature sampling — the
      // DoReMi-style deployment): q245's Hamilton allocation
      // materializes as q246's per-document multiplicity manifest, every
      // document expands to its repetition instances (instance id =
      // doc_id·10⁵ + epoch — replayable arithmetic; multiplicity ≤ the
      // 2,000-slot budget ≪ 10⁵), instances pack greedily per language
      // at 128 tokens, and the packed sequences take the deterministic
      // epoch shuffle — the table a mixture-training run actually
      // consumes. The 2,000-slot budget exceeds the corpus at sf0.01
      // (upsampled strata repeat) and undershoots it at sf0.1 (salted-
      // rank winners only), so both mixture regimes ride one gate. Every
      // stage is an audited operator; the oracle replays allocation,
      // manifest, instance expansion, packing recursion, and the md5
      // shuffle rank.
      val docs = t(s, d, "documents")
      val manifest = Sampling.sampleWeightedMixture(
        docs.select("doc_id", "lang", "text"), "lang", "doc_id",
        Map("en" -> 4L, "es" -> 3L, "fr" -> 2L, "de" -> 1L),
        2000L, salt = "mix1")
      val instances = manifest
        .select(col("doc_id"), col("lang"), col("text"),
          explode(sequence(lit(0L), col("multiplicity") - 1)).as("e"))
        .select((col("doc_id") * 100000L + col("e")).as("inst_id"),
          col("lang"), col("text"))
      val packed = Packing.packGreedy(instances, "inst_id", "text",
        "lang", 128)
      val seqs = packed.groupBy(col("shard"), col("seq_idx"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
        .withColumn("seq_key",
          concat_ws("#", col("shard"), col("seq_idx").cast("string")))
      Sampling.shuffleOrder(seqs, "seq_key", "mixep0")
        .select(col("shard"), col("seq_idx"), col("n_docs"),
          col("seq_tokens"), col("shuffle_pos"))
        .orderBy("shard", "seq_idx")
    }),

    "q251_stream_semdedup" -> ((s, d) => {
      // The ingest-time dedup gate a 100-TB pipeline actually runs:
      // q249's micro-batch serve COMPOSED with q248's survivor-index
      // probe — each micro-batch of the fresh embedding stream assigns
      // through the FROZEN two-level model and pairs only against its
      // cluster's stored representatives inside foreachBatch, emitting
      // the per-batch (batch_id, index_id) drop decisions. Serve is
      // stateless, the index frozen, and each row's decision independent
      // of its batch-mates, so the drained union equals q248's batch
      // answer exactly — the oracle replays fit, corpus serve, survivor
      // selection, batch serve, and the cosine probe from raw parquet.
      val emb = t(s, d, "embeddings")
      val (coarse, fine) = twoLevelModel(s, d)
      val index = semDeDupIndex(s, d)
      val batch = emb.select((col("vec_id") + 100000).as("vec_id"),
        when(col("vec_id") % 2 === 0, col("embedding"))
          .otherwise(reverse(col("embedding"))).as("embedding"))
      val pin = Fixtures.once(d, "stream_sdd_in")(batch.repartition(32).write.parquet(_))
      val base = Fixtures.scratch("stream_sdd_run")
      // maxFilesPerTrigger=8 over 32 files — the q249 lesson: keep
      // file-level parallelism inside each trigger's argmin scan.
      val stream = s.readStream.option("maxFilesPerTrigger", 8)
        .schema(batch.schema).parquet(pin)
      drain(s, stream, base) { bdf =>
        Seq("out" -> Similarity.semDeDupPairsAgainstIndex(bdf, "vec_id", "embedding",
            coarse, fine, kFine = 3, index, threshold = 0.42))
      }.orderBy("batch_id", "index_id")
    }),

    "q252_ivf_delete_refresh" -> ((s, d) => {
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
    }),

    "q256_ivf_compact_refresh" -> ((s, d) => {
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
    }),

    "q253_epoch_plan_instances" -> ((s, d) => {
      // q250's plan at the INSTANCE grain — the table a training data
      // loader actually reads to slice each packed sequence: one row per
      // repetition instance with its sequence coordinates and starting
      // token offset. Offsets come from the SAME greedy scan that packs
      // (the running in-sequence cursor), so sequence boundaries and
      // Σ n_tokens replay exactly; the oracle reuses q250's recursive
      // packing replay, whose running `used` column IS the cursor
      // (tok_offset = used − n_tokens).
      val docs = t(s, d, "documents")
      val manifest = Sampling.sampleWeightedMixture(
        docs.select("doc_id", "lang", "text"), "lang", "doc_id",
        Map("en" -> 4L, "es" -> 3L, "fr" -> 2L, "de" -> 1L),
        2000L, salt = "mix1")
      val instances = manifest
        .select(col("doc_id"), col("lang"), col("text"),
          explode(sequence(lit(0L), col("multiplicity") - 1)).as("e"))
        .select((col("doc_id") * 100000L + col("e")).as("inst_id"),
          col("lang"), col("text"))
      Packing.packGreedyWithOffsets(instances, "inst_id", "text", "lang", 128)
        .withColumnRenamed("id", "inst_id")
        .select(col("inst_id"), col("shard"), col("seq_idx"),
          col("tok_offset"), col("n_tokens"))
        .orderBy("shard", "seq_idx", "tok_offset")
    }),

    "q254_twolevel_sampled_fit" -> ((s, d) => {
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
    }),

    "q255_stream_semdedup_admit" -> ((s, d) => {
      // q251's frontier gate with the index UNFROZEN — the r17 verdict's
      // #2 gap: a real ingest-time dedup ADMITS each batch's survivors
      // so later batches dedup against them, not just the day-one
      // corpus. Four deterministic waves stream through foreachBatch
      // (one file per trigger, mtime-ordered — FileStreamSource batches
      // oldest-first); each wave probes the CURRENT stored index, emits
      // its drop decisions, and appends its zero-hit rows to the index
      // (model frozen throughout). Waves 2/4 repeat waves 1/3's vectors
      // at fresh ids, so their hits name wave-1/3 ADMISSIONS — output
      // no frozen-index run could produce. Order-dependent by design;
      // the oracle replays the waves sequentially (the q74/q171
      // incremental-ledger convention).
      val emb = t(s, d, "embeddings")
      val (coarse, fine) = twoLevelModel(s, d)
      val baseIdx = semDeDupIndex(s, d)
      // One single-file wave per trigger: each wave's one part file moves
      // out of its Spark output directory, which is then dropped.
      val pin = Fixtures.once(d, "stream_sdd_admit_in") { p =>
        Seq((1, 0), (2, 0), (3, 1), (4, 1)).foreach { case (w, m) =>
          emb.where(col("vec_id") % 5 === m)
            .select((col("vec_id") + w * 100000).as("vec_id"),
              reverse(col("embedding")).as("embedding"))
            .coalesce(1).write.parquet(s"$p/parts/$w")
          val part = new java.io.File(s"$p/parts/$w").listFiles()
            .find(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet")).get
          val dst = new java.io.File(s"$p/wave$w.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          // Fixed, 60s-spaced mtimes pin the trigger order across runs.
          dst.setLastModified(1600000000000L + w * 60000L)
        }
        new org.apache.hadoop.fs.Path(s"$p/parts")
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(s"$p/parts"), true)
      }
      val base = Fixtures.scratch("stream_sdd_admit")
      // The run-local index generation starts as a COPY of the stored
      // survivor index (the shared artifact stays immutable).
      baseIdx.write.mode("overwrite").parquet(s"$base/idx")
      val schema = s.read.parquet(s"$pin/wave1.parquet").schema
      val stream = s.readStream.option("maxFilesPerTrigger", 1)
        .schema(schema).parquet(s"$pin/wave*.parquet")
      drain(s, stream, base) { bdf =>
        val (pairs, admitted) = Similarity.semDeDupAdmitBatch(
          bdf, "vec_id", "embedding", coarse, fine, kFine = 3,
          s.read.parquet(s"$base/idx"), threshold = 0.42)
        // pairs first: its action materializes the lazy checkpoints,
        // so the admitted append after it never scans the index path it
        // is appending to.
        Seq("out" -> pairs, "idx" -> admitted)
      }.orderBy("batch_id", "index_id")
    }),

    "q239_dsir_serve" -> ((s, d) => {
      // DSIR's stored-model lifecycle (the r14 verdict gap): the dense
      // 256-bucket λ table persists ONCE (fingerprinted path, the q234
      // convention), then a FRESH batch — every 5th doc re-arriving with
      // a novel appended tail, so bigrams the fit never saw score
      // through the dense grid's smoothed weights — scores map-side
      // against the stored table with ZERO shuffle (the λ literal
      // fold). Integer micro-nats pin stored == refit, so the oracle
      // replays fit + batch-score in one SQL.
      val docs = t(s, d, "documents")
      val batch = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" zq"), col("doc_id").cast("string"))
            .as("text"))
      Classify.dsirScoreHashed(batch, "doc_id", "text", dsirLambda(s, d))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "q233_nb_train" -> ((s, d) => {
      // The CCNet/GPT-3-style quality-classifier FIT: multinomial Naive
      // Bayes over 64 hashed token buckets, positive class = the curated
      // source allowlist (the "Wikipedia as target" shape). Output is
      // the ENTIRE model — 64 bucket rows of class counts + smoothed LLR
      // in micro-nats, the bucket=-1 doc-count prior row, and the
      // bucket=-2 count row (the serve-time modulus guard) — so the
      // gate pins every weight a scorer will ever read. One exchange of
      // 64 keys regardless of corpus size (the hashing trick).
      Classify.nbTrainHashed(t(s, d, "documents"), "text",
          nbLabelCol, buckets = 64)
        .orderBy("bucket")
    }),

    "q234_nb_score" -> ((s, d) => {
      // The classifier lifecycle's SERVE half: the q233 weight table
      // persists once per corpus (65 rows — the q228 stored-model
      // convention, fingerprinted path), then every document scores
      // map-side against the broadcast LLR array with ZERO shuffle.
      // Deterministic integer micro-nats pin stored == refit, so the
      // oracle replays fit + score in one SQL.
      val docs = t(s, d, "documents")
      Classify.nbScoreHashed(docs, "doc_id", "text", nbWeights(s, d))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "q235_dsir_select" -> ((s, d) => {
      // DSIR data selection (Xie et al., 2023): hashed-BIGRAM importance
      // log-ratios (target = the curated allowlist, raw = the whole
      // corpus), then the deterministic resampling step — the longest
      // prefix of the (mean importance DESC, doc_id) ordering whose
      // cumulative whitespace tokens fit a 20k budget. The means are
      // near-distinct (one score class per doc), so the boundary scan
      // rides selectByTokenBudget's range-bin-sharded prefix sum — no
      // global single-task window even at histogram ≈ corpus size.
      // λ table rides as a codegen literal; the corpus never self-joins.
      val docs = spread(t(s, d, "documents"))
      // tc is DERIVED, not re-tokenized: every surviving row has
      // n_bigrams > 0, and the bigram array is exactly (tokens − 1) long,
      // so tc = n_bigrams + 1 — same integers the third corpus pass +
      // id-join used to recompute from scratch.
      val wts = Classify.dsirLogRatios(docs, "doc_id", "text",
          nbLabelCol, buckets = 256)
        .where(col("n_bigrams") > 0)
        .withColumn("tc", // when() without otherwise keeps the column
          // nullable, exactly like the tokenCount it replaces (its guard
          // is the filter above, so no value is ever null)
          when(col("n_bigrams") > 0, col("n_bigrams") + 1).cast("int"))
      Sampling.selectByTokenBudget(wts, "id", "tc", "dsir_mean_micro",
          budget = 20000L)
        .select(col("id").as("doc_id"), col("dsir_mean_micro"), col("tc"))
        .orderBy("doc_id")
    }),

    "q236_k_anonymity" -> ((s, d) => {
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
    }),

    "q231_char_entropy" -> ((s, d) => {
      // The binary/garbage screen: per-doc CHARACTER entropy in exact
      // micro-nats, with hex blobs planted on every 17th doc (their
      // alphabet collapses to <= 16 symbols, no spaces — the signature a
      // char-distribution screen catches before tokenization means
      // anything).
      val docs = spread(t(s, d, "documents")).select(col("doc_id"), expr(
        """CASE WHEN doc_id % 17 = 0
          |  THEN md5(CAST(doc_id AS STRING) || 'g0') ||
          |       md5(CAST(doc_id AS STRING) || 'g1') ||
          |       md5(CAST(doc_id AS STRING) || 'g2')
          |  ELSE text END""".stripMargin).as("text"))
      TextAnalysis.charEntropyReport(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "q230_ewma_smooth" -> ((s, d) => {
      // Exact-integer EWMA over the hourly value series per event type:
      // decay weights are ONE driver-computed integer table both engines
      // consume (no float recurrence to diverge), missing lags drop from
      // numerator AND denominator. The metric smoother beside q180's
      // anomaly flags.
      val hour = events(s, d).select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hb"),
          expr("CAST(round(value * 1e6) AS BIGINT)").as("vm"))
        .groupBy("event_type", "hb")
        .agg(expr("CAST(sum(vm) div count(1) AS DOUBLE) / 1e6").as("v"))
      Sessionize.ewmaSmooth(hour, Seq("event_type"), "hb", "v",
          decayPermille = 800, window = 12)
        .orderBy("event_type", "hb")
    }),

    "q229_rendezvous_routing" -> ((s, d) => {
      // Rendezvous (HRW) shard routing: stateless consistent placement —
      // per-shard counts over documents routed to 5 shards; removing a
      // shard reassigns only its own keys (the property the spec pins).
      // One md5 per (row, shard), struct-max fold, zero state.
      Sampling.rendezvousAssign(t(s, d, "documents"), "doc_id",
          Seq("s0", "s1", "s2", "s3", "s4"))
        .groupBy("shard").agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("shard")
    }),

    "q228_kmeans_serve" -> ((s, d) => {
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
    }),

    "q225_kmeans_refresh" -> ((s, d) => {
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
    }),

    "q226_link_prediction" -> ((s, d) => {
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
    }),

    "q227_vocab_coverage" -> ((s, d) => {
      // Vocabulary sizing: corpus-occurrence coverage of top-{100, 1000,
      // 10000} vocabularies in exact permille — the curve whose elbow
      // decides the vocab budget. Windows see one row per TYPE.
      TextAnalysis.vocabCoverage(t(s, d, "documents"), "text",
          Seq(100, 1000, 10000))
        .orderBy("vocab_size")
    }),

    "q224_quantile_bins" -> ((s, d) => {
      // The feature discretizer: every event's value binned into its
      // type's own decile (histogram-rule cuts, exact integers) — the
      // psi reference-binning step standalone, the transform a
      // float-interpolating discretizer can never replay exactly.
      Profile.quantileBins(events(s, d), Seq("event_type"),
          "event_id", "value", bins = 10)
        .orderBy("event_id")
    }),

    "q222_interval_overlap_join" -> ((s, d) => {
      // Interval-OVERLAP join without a nested loop: per user, click
      // spans [ts, ts + value min) overlapping error spans [ts, ts+30min)
      // pair through fixed 15-min buckets — each pair emitted exactly
      // once, by the bucket holding the overlap's own start. The oracle
      // runs the quadratic per-user overlap predicate the bucket rewrite
      // avoids.
      val ev = events(s, d)
      def spans(tpe: String, minutes: Column) = ev
        .where(col("event_type") === tpe)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) +
            round(minutes * 60000000d).cast("long")).as("e"))
      Joins.intervalOverlapJoin(
          spans("click", col("value")), spans("error", lit(30.0)),
          Seq("user_id"), "event_id", "s", "e", "event_id", "s", "e",
          bucketWidth = 900000000L)
        .orderBy("user_id", "id_a", "id_b")
    }),

    "q223_peak_concurrency" -> ((s, d) => {
      // Peak concurrent click spans per user (+ when first reached):
      // the boundary sweep with (t, delta) ordering so half-open
      // back-to-back spans never double-count — the capacity number
      // beside q202's covered total.
      val ev = events(s, d).where(col("event_type") === "click")
        .select(col("user_id"),
          unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) +
            round(col("value") * 60000000d).cast("long")).as("e"))
      Sessionize.peakConcurrency(ev, "user_id", "s", "e")
        .orderBy("user_id")
    }),

    "q219_theil_sen" -> ((s, d) => {
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
    }),

    "q220_mutual_information" -> ((s, d) => {
      // Exact MI between lang and source — the "does this feature carry
      // signal about that one" number, on the PMI/JS integer seam: one
      // micro-nat ln per distinct cell, DECIMAL weighted sum, one
      // truncating division by N.
      Profile.mutualInformation(t(s, d, "documents"), "lang", "source")
    }),

    "q221_snapshot_diff" -> ((s, d) => {
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
    }),

    "q217_hop_distances" -> ((s, d) => {
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
    }),

    "q218_weighted_pagerank" -> ((s, d) => {
      // Weighted damped PageRank (the formulation TextRank specifies):
      // mass leaves proportionally to edge weight — one truncating
      // per-unit quotient per source, exact integer scaling per edge,
      // replayed bit-for-bit by the iteration CTEs. Planted weights
      // 1 + (src+dst) % 7 over the q175 graph.
      val we = plantedTriangleEdges(s, d)
        .withColumn("w", lit(1L) + pmod(col("src") + col("dst"), lit(7L)))
      Graph.pageRankWeighted(we, "src", "dst", "w", iterations = 5)
        .orderBy("node")
    }),

    "q216_scd2_merge" -> ((s, d) => {
      // Incremental SCD2 maintenance: the stored dimension (changes
      // before Jan 15) absorbs the later batch WITHOUT re-reading the
      // historical feed — boundary no-ops collapse, stored currents
      // close at the first surviving batch change, history streams
      // through untouched. The oracle is q191's full-feed rebuild,
      // verbatim: merged == rebuilt is the gate.
      val ch = events(s, d).where(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("pmod(CAST(round(value * 1e6) AS BIGINT), 5)").as("tier"))
      val cutoff = lit("2024-01-15").cast("timestamp")
      val stored = Joins.scd2Intervals(ch.where(col("ts") < cutoff),
        "user_id", "ts", "event_id", "tier")
      Joins.scd2Merge(stored, ch.where(col("ts") >= cutoff),
          "user_id", "ts", "event_id", "tier")
        .orderBy("user_id", "valid_from")
    }),

    "q214_table_checksum" -> ((s, d) => {
      // Order-independent replication checksum over lineitem's key
      // columns: one scan, three independent folds (count, xor, modular
      // sum of 60-bit row digests with explicit NULL sentinels) — the
      // "did the copy land identical" verifier, layout- and
      // order-invariant by construction.
      Profile.tableChecksum(t(s, d, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_returnflag"))
    }),

    "q215_curation_funnel" -> ((s, d) => {
      // The END-TO-END curation pipeline as one gated funnel: planted
      // HTML pages (q201 fixture) -> markup strip -> Gopher/C4 quality
      // gate (q62 thresholds) -> exact dedup (min-id per digest) ->
      // train split (q49 buckets). One row per stage with surviving doc
      // counts — every stage is an already-audited operator; the oracle
      // replays the whole chain from the SAME shared SQL fragments.
      // Re-crawl duplicates planted: even docs recur under id+10000.
      // Their PAGES differ (the fixture embeds the id in comment/style/
      // script — all stripped), but 10000 ≡ 0 mod 5 keeps the one
      // SURVIVING id mark identical, so the copies collapse only at the
      // dedup stage, exactly like a re-crawl.
      // Every stage frame that feeds BOTH its funnel count and the next
      // stage rides a lazy localCheckpoint: the four unioned branches
      // then share one materialization per stage instead of re-deriving
      // the whole strip→quality→dedup→split lineage per branch (~4× the
      // pipeline's work — the r13 verdict item).
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val base = docs.unionByName(docs.where(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val raw = base.select(col("doc_id"), expr(markupFixtureSql).as("text"))
        .localCheckpoint(false)
      val stripped = raw.select(col("doc_id"),
          TextAnalysis.stripMarkup(col("text")).as("text"))
        .localCheckpoint(false)
      val kept = TextAnalysis.qualityFilter(stripped, "doc_id", "text",
          minTokens = 20)
        .where(col("keep")).select("doc_id")
        .join(stripped, "doc_id")
        .localCheckpoint(false)
      val deduped = Dedup.exactDedup(kept, "doc_id", "text")
        .localCheckpoint(false)
      val train = Sampling.assignSplits(deduped, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "seed42")
        .where(col("split") === "train")
      def stage(i: Int, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i).as("stage_idx"), lit(name).as("stage"),
            col("n_docs"))
      stage(0, "raw", raw)
        .unionByName(stage(1, "quality_kept", kept))
        .unionByName(stage(2, "exact_deduped", deduped))
        .unionByName(stage(3, "train_split", train))
        .orderBy("stage_idx")
    }),

    "q211_hard_negatives" -> ((s, d) => {
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
    }),

    "q212_bloom_join" -> ((s, d) => {
      // Bloom-pruned equi-join: January-1995 orders' keys compress to a
      // 2^18-bit md5 bitmap that filters lineitem MAP-SIDE before its
      // exchange; the aggregate must equal the plain join's (a false
      // positive drops in the join, a true key can never fail its own
      // bits). The oracle runs the plain join — equality IS the gate.
      val li = t(s, d, "lineitem")
      val orders = t(s, d, "orders")
        .where(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-02-01"))
      Joins.bloomPrunedEquiJoin(li, orders, "l_orderkey", "o_orderkey",
          mBits = 1 << 18, k = 3)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    "q213_centroid_probe" -> ((s, d) => {
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
    }),

    "q209_sliding_trends" -> ((s, d) => {
      // Sliding-window trending: top-3 event types per OVERLAPPING
      // 1-hour window sliding every 15 minutes — each event expands to 4
      // (window, type) rows that combine map-side; the rank sees at most
      // |type vocabulary| rows per window. (count DESC, type) ties.
      Sessionize.trendingTopK(events(s, d), "ts", "event_type",
          "1 hour", "15 minutes", k = 3)
        .orderBy("start_us", "rank")
    }),

    "q210_weighted_sample" -> ((s, d) => {
      // Efraimidis–Spirakis weighted sampling without replacement: the
      // 100 events with the largest md5-derived ln(u)/value keys — PPS
      // inclusion, no RNG, no shuffle (distributed TakeOrdered merges
      // per-partition top-k heads). Key rounds once to micro-nats.
      Sampling.weightedSampleNoReplacement(events(s, d),
          "event_id", "value", k = 100)
        .orderBy(desc("key_micro"), asc("id"))
    }),

    "q208_semdedup_clusters" -> ((s, d) => {
      // SemDeDup as the paper partitions it: near-dup pairs (cosine >=
      // 0.42, the q28 seam) sought only WITHIN Lloyd clusters, components
      // collapse to their min id, survivors pass through — the cluster-
      // bounded alternative to q59's sign-LSH, missing only boundary-
      // straddling pairs (the paper's documented trade). k derives from
      // the corpus (⌈n/64⌉ = 8 at the gate's 500 embeddings — the q204
      // count, so the shared Lloyd oracle replays verbatim) and the
      // realized pair volume is probed against the budget before the
      // join — no fixed-k knob left undefined at 100×.
      Similarity.semDeDupWithinClusters(t(s, d, "embeddings"),
          "vec_id", "embedding", iters = 3, threshold = 0.42)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),

    "q207_repeated_passages" -> ((s, d) => {
      // Exact repeated-passage mining (the Lee et al. "dedup exact
      // substrings" shape) over the q42 planted corpus (own text + next
      // doc's + doc id%50's — guaranteed cross-document passages):
      // 32-char windows at stride 4 occurring in >= 2 docs union into
      // per-doc copied blocks; the report is each doc's verbatim-copy
      // saturation in exact permille. Digest-keyed equi-joins — suffix
      // arrays don't distribute, window digests do.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val d2 = docs.select(col("doc_id").as("id2"), col("text").as("t2"))
      // Only ids < 50 can match the %50 key — filter, then broadcast the
      // 50-row side instead of shuffling the corpus onto 50 hot keys.
      val d3 = broadcast(docs.where(col("doc_id") < 50)
        .select(col("doc_id").as("id3"), col("text").as("t3")))
      val corpus = docs
        .join(d2, col("id2") === col("doc_id") + 1, "left")
        .join(d3, col("id3") === col("doc_id") % 50)
        .select(col("doc_id"),
          concat(col("text"), lit("\n\n"), coalesce(col("t2"), lit("")),
            lit("\n\n"), col("t3")).as("text"))
      Dedup.repeatedPassageReport(corpus, "doc_id", "text",
          windowLen = 32, stride = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "q206_stream_sessions" -> ((s, d) => {
      // STREAMING gap sessionization — the q40 operator LIVE: events
      // drain through the xmlng stream, session_window merges per-user
      // state across micro-batches, and append mode emits a session only
      // when the watermark passes its close (the state-eviction contract
      // streaming sessions exist for). One SENTINEL row (user −1) planted
      // 66 days past the corpus end rides INSIDE the input files; with a
      // 60-day watermark delay the final watermark lands past every REAL
      // session's close but before the sentinel's own, so the drained
      // set equals the batch q40 session set exactly — no real event can
      // be late (full-span delay), and the sentinel session never emits.
      val ev = events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      val maxTs = ev.agg(max("ts_us")).head().getLong(0)
      val sentinel = s.range(1).select(lit(-1L).as("user_id"),
        lit(maxTs + 66L * 86400L * 1000000L).as("ts_us"),
        lit(0.0).as("value"))
      val path = xmlInput(d, "stream_sessions_v1", "ev")(
        ev.unionByName(sentinel).coalesce(4))
      val sinkName = "q206_sink_" + new java.io.File(d).getName.replace('.', '_')
      // State partitions sized to the input (see stateShufflePartitions):
      // session-window state is per-user and tiny here; the per-partition
      // store commit each micro-batch is the cost that scales with count.
      withShufflePartitions(s, stateShufflePartitions(s, Seq(path))) {
        val stream = s.readStream.format("xmlng").option("rowTag", "ev")
          .schema(ev.schema).load(path)
          .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
            col("value"))
          .withWatermark("ts", "60 days")
        val sess = Sessionize.sessions(stream, "user_id", "ts", "30 minutes",
          Seq("sum_value" -> sum(dec3(col("value"))).cast("double")))
        val q = sess.writeStream.format("memory").queryName(sinkName)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sinkName)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("events"), col("sum_value"))
        .orderBy("user_id", "start_us")
    }),

    "q205_cluster_coreset" -> ((s, d) => {
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
    }),

    "q203_prune_report" -> ((s, d) => {
      // The scan-planning payoff the q181 extent table exists FOR: a box
      // predicate constraining only the SECOND dimension (y in [96,127],
      // x unconstrained) is planned against two layouts' footer stats —
      // the q181 z-order files, where a y band touches only the tiles it
      // crosses, and a single-column x-sort, whose every file spans all
      // of y and so can never be skipped. The permille pair is the case
      // for a z-order rewrite; the decision reads 64 extent rows, never
      // the data.
      val li = t(s, d, "lineitem")
      val m = broadcast(li.agg(max("l_partkey").as("__xm"),
        max("l_suppkey").as("__ym")))
      val scaled = li.crossJoin(m).select(
        Layout.scaleToBits(col("l_partkey"), col("__xm"), 8).as("xb"),
        Layout.scaleToBits(col("l_suppkey"), col("__ym"), 8).as("yb"))
      val zExt = Layout.zOrderExtents(scaled, "xb", "yb", bits = 8, buckets = 64)
      val xSortExt = scaled.withColumn("bucket", expr("(xb * 64) div 256"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min("xb").as("x_min"), max("xb").as("x_max"),
          min("yb").as("y_min"), max("yb").as("y_max"))
      Layout.pruneReport(zExt, 0L, 255L, 96L, 127L)
        .withColumn("layout", lit("zorder"))
        .unionByName(Layout.pruneReport(xSortExt, 0L, 255L, 96L, 127L)
          .withColumn("layout", lit("xsort")))
        .select(col("layout"), col("files_total"), col("files_scanned"),
          col("rows_total"), col("rows_scanned"), col("scan_permille"))
        .orderBy("layout")
    }),

    "q202_interval_coverage" -> ((s, d) => {
      // Interval-union coverage: each event opens a [ts, ts + value
      // minutes) span; per user, the EXACT union length (overlaps never
      // double-count), block/interval counts, and covered share of the
      // user's full span — the "hours actually covered" audit for
      // segment transcripts / leases. Two per-key windows + two compact
      // aggregates; planted invalid spans (every 13th event zero-length)
      // land in n_dropped.
      val ev = events(s, d)
      val iv = ev.select(col("user_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) +
          when(col("event_id") % 13 === 0, lit(0L))
            .otherwise(round(col("value") * 60000000d).cast("long")))
          .as("end_us"))
      Sessionize.intervalCoverage(iv, "user_id", "start_us", "end_us")
        .orderBy("user_id")
    }),

    "q199_textrank_keywords" -> ((s, d) => {
      // TextRank keywords (Mihalcea & Tarau 2004) at corpus scale: the
      // word co-occurrence graph — adjacent-token pairs, both
      // directions, vocabulary restricted to tokens seen >= 50 times so
      // |V| stays vocabulary-bounded and hapax noise never enters —
      // ranked by the SAME integer-exact damped PageRank as q136
      // (unweighted variant: parallel co-occurrences dedup, the
      // cleanEdges contract). Top-20 by (rank, token) = the corpus
      // keyword panel.
      val docs = t(s, d, "documents")
      val base = docs.select(TextAnalysis.tokens(col("text")).as("__toks"))
      val pairs = base.where(size(col("__toks")) >= 2)
        .select(explode(zip_with(
          slice(col("__toks"), lit(1), size(col("__toks")) - 1),
          slice(col("__toks"), lit(2), size(col("__toks")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("__p"))
        .select(col("__p.a").as("a"), col("__p.b").as("b"))
        .where(col("a") =!= col("b"))
      val keep = docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("__f"))
        .where(col("__f") >= 50).select("w")
      val e0 = pairs
        .join(keep.withColumnRenamed("w", "a"), "a")
        .join(keep.withColumnRenamed("w", "b"), "b")
        .select(col("a").as("src"), col("b").as("dst"))
      val und = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(und, "src", "dst", iterations = 5)
        .orderBy(desc("rank_ppt"), asc("node")).limit(20)
    }),

    "q198_event_transitions" -> ((s, d) => {
      // First-order event-flow (Markov) transition matrix: per user,
      // events in (ts, event_id) order yield (from, to) steps; the
      // panel is P(to | from) in exact integer permille — the
      // user-behavior read behind funnel design (which q128 then tests
      // as ordered stages). One lag window over per-user events + one
      // compact (from, to) aggregate; payloads never move.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("__from", lag(col("event_type"), 1).over(w))
        .where(col("__from").isNotNull)
        .groupBy(col("__from").as("from_type"),
          col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n_steps"))
        .withColumn("p_permille", expr(
          "n_steps * 1000 DIV sum(n_steps) OVER (PARTITION BY from_type)"))
        .orderBy("from_type", "to_type")
    }),

    "q195_winsorize" -> ((s, d) => {
      // Winsorization — the TRANSFORM beside q183's flags: event values
      // clip to their type's [p05, p95] histogram-rule cuts, exact
      // integers end to end, so one glitched value can't stretch a
      // downstream normalization.
      Profile.winsorizeReport(events(s, d), Seq("event_type"),
          "event_id", "value", loPermille = 50, hiPermille = 950)
        .orderBy("event_id")
    }),

    "q196_ann_recall" -> ((s, d) => {
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
    }),

    "q197_hll_merge" -> ((s, d) => {
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
    }),

    "q194_stream_upsert" -> ((s, d) => {
      // Streaming UPSERT materialized view via foreachBatch — the
      // lakehouse-MERGE pattern: each micro-batch merges into a keyed
      // parquet table keeping the LATEST change per user (one
      // max-struct aggregate; lexicographic struct order is the q137
      // tie rule). Latest-per-key is associative and commutative, so
      // the drained table equals the batch answer whatever the batch
      // boundaries. The read-merge-overwrite is the dimension-scale
      // variant; at fact scale the same per-batch logic drives a real
      // MERGE INTO — foreachBatch is exactly the hook for it.
      val ev = events(s, d).where(col("event_type") === "signup")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          expr("pmod(CAST(round(value * 1e6) AS BIGINT), 5)").as("tier"))
      val xin = xmlInput(d, "stream_upsert_in_v1", "ev")(ev.coalesce(4))
      // Fresh output + checkpoint each invocation (the q45 rule): stale
      // generations would mask the new drain.
      val base = Fixtures.scratch("stream_upsert_out")
      val tblPath = s"$base/tbl"
      val stream = s.readStream.format("xmlng").option("rowTag", "ev")
        .schema(ev.schema).load(xin)
      val q = stream.writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val cur =
            if (new java.io.File(tblPath).isDirectory)
              s.read.parquet(tblPath)
            else b.limit(0)
          val merged = cur.unionByName(b)
            .groupBy("user_id")
            .agg(max(struct(col("ts_us"), col("event_id"), col("tier")))
              .as("__m"))
            .select(col("user_id"), col("__m.ts_us").as("ts_us"),
              col("__m.event_id").as("event_id"), col("__m.tier").as("tier"))
            // Materialize BEFORE the overwrite: the merged frame reads
            // the same files the write is about to replace.
            .localCheckpoint(true)
          merged.write.mode("overwrite").parquet(tblPath)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(tblPath).orderBy("user_id")
    }),

    "q193_scd2_lookup" -> ((s, d) => {
      // Point-in-time lookup that CLOSES the q191 lifecycle: purchase
      // facts read the plan tier that was valid AT purchase time from
      // the SCD2 dimension. Dimensions are small by definition, so the
      // plan is one broadcast join with interval containment — facts
      // never shuffle; unmatched facts (purchase before the first
      // change) surface with a null tier, the audit split.
      val ev = events(s, d)
      val ch = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("pmod(CAST(round(value * 1e6) AS BIGINT), 5)").as("tier"))
      val dim = Joins.scd2Intervals(ch, "user_id", "ts", "event_id", "tier")
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("__fu"), col("ts").as("purchase_ts"))
      facts.join(broadcast(dim),
          col("__fu") === col("user_id") &&
            col("purchase_ts") >= col("valid_from") &&
            (col("valid_to").isNull ||
              col("purchase_ts") < col("valid_to")),
          "left")
        .select(col("purchase_id"), col("__fu").as("user_id"),
          col("purchase_ts"), col("tier"))
        .orderBy("purchase_id")
    }),

    "q192_kcore" -> ((s, d) => {
      // k-core peeling on the planted community/hub graph: four rounds
      // of "drop every node whose current degree < 3", degrees
      // recomputed on the survivors each round — the dense-substructure
      // screen beside q175's clustering coefficients. Fixed rounds keep
      // the result engine-replayable (one oracle CTE per round).
      Graph.kCore(plantedTriangleEdges(s, d), "src", "dst",
          k = 3, rounds = 4)
        .orderBy("node")
    }),

    "q190_psi_drift" -> ((s, d) => {
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
    }),

    "q187_projected_ann" -> ((s, d) => {
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
    }),

    "q171_incremental_components" -> ((s, d) => {
      // The incremental dedup lifecycle CLOSED end to end: the even
      // half's cluster assignment persists once (its pair graph is never
      // recomputed); a new odd batch contributes its internal pairs plus
      // its cross-pairs against the STORED minhash index (the q103
      // probe); the stored assignment re-enters as STAR edges
      // (id -> component), which preserve connectivity exactly — so the
      // merge runs components over n + |new pairs| edges instead of the
      // historical pair graph. Result must equal a from-scratch
      // clustering of (curated ∪ batch): q46's recursive closure
      // restricted to exactly those docs.
      val docs = t(s, d, "documents")
      val cpath = Fixtures.once(d, "components_even") {
        Dedup.connectedComponents(
            Dedup.minHashDedupPairs(docs.where(col("doc_id") % 2 === 0),
              "doc_id", "text", 0.9),
            "id_a", "id_b")
          .write.parquet(_)
      }
      // Batch MUCH SMALLER than corpus — the q103 daily-ingest contract
      // (a half-corpus "batch" would rightly cost as much as a rebuild).
      val batch = docs.where(col("doc_id") % 2 === 1 && col("doc_id") < 500)
      val batchPairs = Dedup.minHashDedupPairs(batch, "doc_id", "text", 0.9)
        .select(col("id_a"), col("id_b"))
      val crossPairs = Dedup.minHashPairsAgainstIndex(batch, "doc_id", "text",
          minHashIndexEven(s, d), 0.9)
        .select(col("batch_id").as("id_a"), col("index_id").as("id_b"))
      val starEdges = s.read.parquet(cpath)
        .select(col("id").as("id_a"), col("component").as("id_b"))
      Dedup.connectedComponents(
          starEdges.unionByName(batchPairs).unionByName(crossPairs),
          "id_a", "id_b")
        .orderBy("id")
    }),

    "q168_key_concentration" -> ((s, d) => {
      // The pre-shuffle skew read: one row with the hottest key's share,
      // the top-10 share, and the hottest key's multiple of the mean
      // (exact integer permille) over the events' type key — the number
      // that decides between a plain groupBy, AQE skew handling, and
      // explicit salting (q90).
      Skew.keyConcentrationReport(t(s, d, "events"), "event_type")
    }),

    "q169_fk_integrity" -> ((s, d) => {
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
    }),

    "q170_event_lateness" -> ((s, d) => {
      // Watermark tuning input: within each user's arrival order
      // (event_id), how often event time steps backwards and by at most
      // how much — exact micros, one key shuffle + streaming lag window.
      Sessionize.latenessReport(events(s, d), "user_id", "event_id", "ts")
    }),

    "q165_embedding_hygiene" -> ((s, d) => {
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
    }),

    "q166_quantized_rerank" -> ((s, d) => {
      // Memory-lean two-stage ANN serving: coarse top-20 by EXACT int8
      // dot product (the 4x-smaller codes do the bulk scoring), float
      // cosine re-rank of only those candidates to top-5. Both stages
      // tie-break by id, so the whole path is deterministic and the
      // oracle replays it stage for stage — quantization included.
      val emb = t(s, d, "embeddings")
      Similarity.quantizedRerankTopK(emb.where(col("vec_id") < 10), emb,
          "vec_id", "vec_id", "embedding", k = 5, expand = 4)
        .orderBy("query_id", "rank")
    }),

    "q167_dedup_pressure" -> ((s, d) => {
      // The dedup run's opening number: per source, how much is verbatim
      // copies — exact integer permille from one digest aggregate; text
      // never crosses an exchange.
      Dedup.dedupPressureReport(t(s, d, "documents"), "text", "source")
        .orderBy("source")
    }),

    "q162_stream_bpe_counts" -> ((s, d) => {
      // The STORED tokenizer served at STREAM time (the q153/q113
      // stored-model convention meeting the q157 encode): the merge
      // table persists once; the odd-id half streams through the xmlng
      // source and each micro-batch applies the stored table and
      // appends its per-doc subword counts. Per-doc rows are
      // batch-boundary-independent by construction, so the drained set
      // equals the batch encode of the same half exactly — which is
      // what the oracle computes.
      val docs = t(s, d, "documents")
      val merges = bpeMerges(s, d)
      val batchIn = docs.where(col("doc_id") % 2 === 1).select("doc_id", "text")
      val xin = xmlInput(d, "stream_bpe_in_v1", "doc")(batchIn)
      val base = Fixtures.scratch("stream_bpe_run")
      val stream = s.readStream.format("xmlng").option("rowTag", "doc")
        .schema(batchIn.schema).load(xin)
      drain(s, stream, base) { bdf =>
        Seq("out" -> TextAnalysis.bpeTokenCounts(bdf, "doc_id", "text", merges))
      }.select(col("id").as("doc_id"), col("bpe_tokens"))
        .orderBy("doc_id")
    }),

    "q163_tokenizer_fit" -> ((s, d) => {
      // Tokenizer-fit panel: per source, characters per subword token
      // under the stored merge table, exact integer permille — the
      // domain-suitability read on the trained tokenizer (too low =
      // shredding, too high = wasted vocabulary).
      val docs = t(s, d, "documents")
      TextAnalysis.tokenizerFitReport(docs, "doc_id", "text", "source",
          bpeMerges(s, d))
        .orderBy("source")
    }),

    "q164_kwic_snippets" -> ((s, d) => {
      // Search-result presentation: every occurrence of the vocabulary's
      // rank-20 term with its ±3-token context, sliced from the MATCHED
      // docs only (posting rows locate hits; text joins back on the id
      // key — no corpus-wide text scan). The stored positional index
      // (q132's) serves the positions.
      val docs = t(s, d, "documents")
      val pidx = positionalIndex(s, d)
      val term = TextAnalysis.topTokens(docs, "text", 20)
        .orderBy(desc("freq"), asc("token"))
        .collect().map(_.getString(0)).slice(19, 20).head
      Search.snippets(pidx, docs, "doc_id", "text", term, 3)
        .orderBy("id", "pos")
    }),

    "q161_url_canonical_dedup" -> ((s, d) => {
      // URL-keyed dedup: five planted raw spellings per doc (case,
      // default port, www, trailing slash, fragment, plus a non-URL
      // family that must drop) collapse onto canonical fetch keys via
      // the deterministic regex chain — the frontier dedup every
      // crawler runs before near-dup ever sees the text. The oracle
      // replays the identical chain in RE2.
      val docs = t(s, d, "documents")
      val urls = docs.select(expr(
        """CASE doc_id % 5
          |  WHEN 0 THEN 'HTTP://Host' || CAST(doc_id % 7 AS STRING) ||
          |    '.Example.com:80/p/' || CAST(doc_id % 17 AS STRING)
          |  WHEN 1 THEN 'http://www.host' || CAST(doc_id % 7 AS STRING) ||
          |    '.example.com/p/' || CAST(doc_id % 17 AS STRING) || '/'
          |  WHEN 2 THEN 'http://host' || CAST(doc_id % 7 AS STRING) ||
          |    '.example.com/p/' || CAST(doc_id % 17 AS STRING) || '#ref'
          |  WHEN 3 THEN 'https://host' || CAST(doc_id % 7 AS STRING) ||
          |    '.example.com:443/q?x=' || CAST(doc_id % 17 AS STRING)
          |  ELSE 'not a url ' || CAST(doc_id AS STRING)
          |END""".stripMargin).as("url"))
      TextAnalysis.urlDedupReport(urls, "url").orderBy("canonical_url")
    }),

    "q159_more_like_this" -> ((s, d) => {
      // Index-served "more like this": for each of the 5 lowest-id docs,
      // the top-5 lexically similar corpus docs by Σ tf_q·tf_d·idf² —
      // idf rounded ONCE per term to integer MILLI-nats (the squared
      // term's overflow-safe seam), N from the stored stats sidecar,
      // only the query terms' posting rows move. The lexical sibling of
      // the embedding ANN gates (q27/q33).
      val docs = t(s, d, "documents")
      val wpath = weightedIndex(s, d)
      Search.moreLikeThis(s.read.parquet(s"$wpath/postings"),
          s.read.parquet(s"$wpath/stats"),
          docs.where(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("qid", "rank")
    }),

    "q160_index_delete_compact" -> ((s, d) => {
      // The index lifecycle's delete+ingest compaction cycle: the stored
      // even-id generation (q151's persisted base) minus a takedown set
      // (ids divisible by 4 — one compact anti-join, no re-tokenization),
      // merged with the odd-id ingest batch; a conjunctive query over the
      // compacted generations must equal a from-scratch index of exactly
      // the surviving docs (id % 4 != 0) — which is what the oracle runs.
      val docs = t(s, d, "documents")
      val afterDelete = Search.deleteFromIndex(invertedIndexEven(s, d),
        docs.where(col("doc_id") % 4 === 0).select(col("doc_id")), "doc_id")
      val merged = Search.updateInvertedIndex(afterDelete,
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
      val terms = TextAnalysis.topTokens(docs, "text", 21)
        .orderBy(desc("freq"), asc("token"))
        .collect().map(_.getString(0)).slice(19, 21).toSeq
      Search.searchConjunctive(merged, terms).orderBy("id")
    }),

    "q157_bpe_encode" -> ((s, d) => {
      // The tokenizer lifecycle COMPLETED: q152 trains the merge table;
      // here it persists once (the q113 stored-model convention) and a
      // separate ENCODE pass applies it — per-document REAL subword
      // counts from replaying the stored merges in rank order over the
      // distinct-word vocabulary, corpus joined on the word key.
      // Tokenless docs count 0. Oracle: the training CTEs re-derive the
      // same merges, then an identical v0..v8 rewrite chain encodes.
      val docs = t(s, d, "documents")
      val counts = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text",
        bpeMerges(s, d))
      docs.select(col("doc_id"))
        .join(counts.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"))
        .orderBy("doc_id")
    }),

    "q158_bpe_pack_greedy" -> ((s, d) => {
      // Greedy sequence packing driven by REAL tokenizer counts: the
      // q63 scan, but n_tokens comes from the stored BPE merge table
      // (q157's encode) instead of the whitespace estimate — the
      // number a training batch actually pays. Budget 256 subwords;
      // same (id, md5(text)) determinism contract.
      val docs = t(s, d, "documents")
      val counts = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text",
        bpeMerges(s, d))
      val counted = docs.select(col("doc_id"), col("source"), col("text"))
        .join(counts.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      Packing.packGreedyByCount(counted, "doc_id", "bpe_tokens", "source",
          256, "text")
        .orderBy("shard", "id")
    }),

    "q156_personalized_pagerank" -> ((s, d) => {
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
    }),

    "q155_hyperball" -> ((s, d) => {
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
    }),

    "q154_bm25_search" -> ((s, d) => {
      // BM25 ranked retrieval (the Lucene default scoring) served
      // ENTIRELY from the stored weighted index — doc lengths are
      // per-id tf sums, avgdl the exact integer corpus ratio — with the
      // per-(term, doc) contribution evaluated by the SAME SQL string
      // the oracle runs (Search.bm25ContributionSql), rounded once to
      // micro-units. Query = vocabulary ranks 18-21, k1=1.2, b=0.75.
      val docs = t(s, d, "documents")
      val wpath = weightedIndex(s, d)
      val terms = TextAnalysis.topTokens(docs, "text", 21)
        .orderBy(desc("freq"), asc("token"))
        .collect().map(_.getString(0)).slice(17, 21).toSeq
      Search.searchBm25(s.read.parquet(s"$wpath/postings"),
          s.read.parquet(s"$wpath/doclens"), s.read.parquet(s"$wpath/stats"),
          terms, 10, 1200000L, 750000L)
        .orderBy("id")
    }),

    "q153_stream_drift_monitor" -> ((s, d) => {
      // The drift monitor on the streaming surface: the even-id half's
      // per-source token histogram persists ONCE as the reference; the
      // odd-id half streams through the xmlng source and each
      // micro-batch appends its own (source, token, cnt) partial counts
      // to a parquet sink — counts are ADDITIVE, so the drained sum is
      // batch-boundary-independent and the final JSD equals the batch
      // computation exactly (gated by the q146 oracle verbatim). No
      // streaming aggregation state: the per-batch work is a stateless
      // count, the nonlinear divergence runs once on the summed counts.
      val docs = t(s, d, "documents")
      val reference = s.read.parquet(Fixtures.once(d, "drift_reference") {
        TextAnalysis.tokenCountsByGroup(
            docs.where(col("doc_id") % 2 === 0), "text", Seq("source"))
          .write.parquet(_)
      })
      val batchIn = docs.where(col("doc_id") % 2 === 1)
        .select("doc_id", "source", "text")
      val xin = xmlInput(d, "stream_drift_in_v1", "doc")(batchIn)
      val base = Fixtures.scratch("stream_drift_run")
      val stream = s.readStream.format("xmlng").option("rowTag", "doc")
        .schema(batchIn.schema).load(xin)
      val streamed = drain(s, stream, base) { bdf =>
        Seq("out" -> TextAnalysis.tokenCountsByGroup(bdf, "text", Seq("source")))
      }.groupBy("source", "token").agg(sum("cnt").as("cnt"))
      TextAnalysis.tokenJsDivergenceFromCounts(reference, streamed, Seq("source"))
        .orderBy("source")
    }),

    "q152_bpe_merges" -> ((s, d) => {
      // Tokenizer training's core loop: the first 8 BPE merges over the
      // corpus vocabulary — pair counts weighted by word frequency,
      // greedy left-to-right merge via literal delimited-string
      // replacement, ties (weight DESC, lhs, rhs). Output IS the merge
      // table a BPE tokenizer executes. Oracle: eight generated DuckDB
      // iteration CTEs replaying count → top-1 → rewrite exactly.
      TextAnalysis.bpeMerges(t(s, d, "documents"), "text", k = 8)
        .orderBy("merge_rank")
    }),

    "q150_leakage_safe_split" -> ((s, d) => {
      // Cluster-integral train/val/test: every near-dup CLUSTER lands
      // whole in one split — per-doc assignment (q49) would leak
      // near-copies of train docs into val/test, the classic eval
      // contamination bug. Components come from the STORED component
      // table (q46's artifact, built once); unpaired docs are their own
      // cluster; the split key is the cluster representative (min
      // reachable doc_id), assigned by the q49 md5-bucket rule — so the
      // whole cluster shares the key and therefore the split.
      val docs = t(s, d, "documents")
      val comp = dupComponents(s, d)
      val clustered = docs.select(col("doc_id"))
        .join(comp, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"))
      Sampling.assignSplits(clustered, "cluster",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "seed42")
        .orderBy("doc_id")
    }),

    "q151_incremental_index" -> ((s, d) => {
      // Incremental inverted-index lifecycle: the even-id half persists
      // as the base index (built once); the odd-id batch's postings
      // union in WITHOUT re-tokenizing the corpus (the q103 daily-ingest
      // convention); a conjunctive query over the merged generations
      // must equal a from-scratch index of the full corpus — which is
      // exactly what the oracle computes. Terms: vocabulary ranks 20-21
      // of the FULL corpus (the q130 pick).
      val docs = t(s, d, "documents")
      val merged = Search.updateInvertedIndex(invertedIndexEven(s, d),
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
      val terms = TextAnalysis.topTokens(docs, "text", 21)
        .orderBy(desc("freq"), asc("token"))
        .collect().map(_.getString(0)).slice(19, 21).toSeq
      Search.searchConjunctive(merged, terms).orderBy("id")
    }),

    "q147_pmi_collocations" -> ((s, d) => {
      // Multi-word-expression mining: top-20 bigram collocations by
      // PMI in integer micro-nats (one rounded ln per surviving
      // bigram), pair count floored at 5 — the phrase-vocabulary pass
      // before tokenizer training. Totals are 1-row broadcasts; the
      // top-k is a bounded TakeOrdered.
      TextAnalysis.collocationsPmi(t(s, d, "documents"), "text",
          minCount = 5L, k = 20)
        .orderBy(desc("pmi_micro_nats"), asc("bigram"))
    }),

    "q148_js_contributors" -> ((s, d) => {
      // The q146 alert's drill-down: per source, the 5 tokens
      // contributing most to the even/odd-half JS divergence — ranked
      // by the exact common-denominator integer so display truncation
      // can't manufacture ties, reported in the JSD sum's micro-nat
      // units.
      val docs = t(s, d, "documents")
      TextAnalysis.tokenJsDivergenceContributors(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "text", Seq("source"), k = 5)
        .orderBy("source", "rank")
    }),

    "q149_zipf_slope" -> ((s, d) => {
      // Per-source Zipf slope over the top-100 tokens: least-squares
      // ln(freq)-vs-ln(rank) with micro-nat-rounded logs, DECIMAL-exact
      // regression sums, one truncating division — the one-number
      // naturalness check (prose ≈ −1e6 micro-units).
      TextAnalysis.zipfSlopeByGroup(t(s, d, "documents"), "text",
          Seq("source"), topN = 100)
        .orderBy("source")
    }),

    "q146_token_js_divergence" -> ((s, d) => {
      // Token-distribution drift monitor: per-source Jensen–Shannon
      // divergence between the even-id and odd-id halves of the corpus
      // (the between-snapshots check, text side) in integer micro-nats —
      // one rounded ln per (token, side), DECIMAL-exact weighted sums,
      // truncating division. The KL halves ship alongside for
      // direction-of-drift reads.
      val docs = t(s, d, "documents")
      TextAnalysis.tokenJsDivergence(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "text", Seq("source"))
        .orderBy("source")
    }),

    "q141_token_entropy" -> ((s, d) => {
      // Per-source token Shannon entropy in integer micro-nats (the q107
      // ln-seam rule: one rounded ln per distinct count, exact integer
      // sums, truncating division) with the uniform ln(distinct) ceiling
      // alongside — the concentration panel that separates template
      // spam from prose.
      TextAnalysis.tokenEntropyByGroup(t(s, d, "documents"), "text",
          Seq("source"))
        .orderBy("source")
    }),

    "q140_pps_sample" -> ((s, d) => {
      // Systematic PPS sampling: exactly 100 draws over the corpus with
      // per-doc expectation proportional to token count — the
      // token-weighted draw behind mixture construction. Multiplicity
      // reported for units heavier than W/k (classic with-replacement
      // PPS). Exact integer weight-line arithmetic; the oracle replays
      // the salt-shuffled order and ceil arithmetic verbatim.
      val docs = t(s, d, "documents").select(col("doc_id"),
        coalesce(TextAnalysis.tokenCount(col("text")), lit(0L)).as("ntok"))
      Sampling.systematicPpsSample(docs, "doc_id", "ntok", 100L, "r10")
        .orderBy("id")
    }),

    "q139_substring_search" -> ((s, d) => {
      // Trigram-indexed substring search (the pg_trgm shape): candidates
      // hold ALL the needle's trigrams via conjunctive posting lookup,
      // then a contains() verify over only the candidates kills
      // false positives. The needle is the first 8 chars of the lowest-id
      // document of length >= 8 — deterministic, and guaranteed to match
      // at least that document. Oracle: the full contains() corpus scan
      // the index avoids. The index follows the persisted convention
      // (q130): built ONCE to parquet, every query served from the
      // stored posting rows.
      val docs = t(s, d, "documents")
      val needle = docs.filter(length(col("text")) >= 8)
        .orderBy("doc_id").select(substring(col("text"), 1, 8))
        .head().getString(0)
      val ipath = Fixtures.once(d, "trigram_index") {
        Search.buildTrigramIndex(docs, "doc_id", "text").write.parquet(_)
      }
      Search.searchSubstring(s.read.parquet(ipath), docs, "doc_id", "text", needle)
        .orderBy("id")
    }),

    "q138_centroid_drift" -> ((s, d) => {
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
    }),

    "q135_range_join" -> ((s, d) => {
      // Point-in-interval range join: purchases inside any signup's
      // 1-hour attribution window, WITHOUT an equi key — the shape
      // Catalyst plans as BroadcastNestedLoopJoin. The bucket rewrite
      // (30-min buckets ≈ half the interval) restores a shuffled hash
      // join; each pair meets in exactly one bucket (the point's), so
      // the output needs no dedup. Oracle: DuckDB's plain inequality
      // join — the quadratic formulation the bucket join must equal.
      val ev = events(s, d)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"),
          unix_micros(col("ts")).as("lo"))
        .withColumn("hi", col("lo") + lit(3600L * 1000000L))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("pt"))
      Joins.rangeJoinByBucket(purchases, "pt", signups, "lo", "hi",
          bucketWidth = 1800L * 1000000L)
        .select(col("signup_id"), col("purchase_id"))
        .orderBy("signup_id", "purchase_id")
    }),

    "q136_domain_pagerank" -> ((s, d) => {
      // Damped PageRank over the source→linked-domain graph (the q120
      // planted URLs): the host-standing signal web-corpus curation
      // weights documents by. All-integer parts-per-1e12 arithmetic with
      // truncating div at every seam, so five DuckDB iteration CTEs
      // replay every rank bit-for-bit.
      Graph.pageRank(plantedDomainEdges(s, d), "src", "dst", iterations = 5)
        .orderBy("node")
    }),

    "q142_pagerank_redistribute" -> ((s, d) => {
      // The standard (mass-conserving) PageRank: dangling mass
      // redistributes equally each round — one extra driver-side sink-mass
      // sum per iteration, same integer parts-per-1e12 seams, so
      // the DuckDB iteration CTEs (now with a dangling term) still
      // replay bit-for-bit. Same planted graph as q136.
      Graph.pageRankRedistributing(plantedDomainEdges(s, d), "src", "dst",
          iterations = 5)
        .orderBy("node")
    }),

    "q132_phrase_search" -> ((s, d) => {
      // Exact phrase query over positional postings: the corpus's most
      // frequent bigram (count DESC, bigram ASC — deterministic) searched
      // as a consecutive-position join chain. No corpus text is scanned
      // at query time; the positional index persists once (the q130
      // convention) and the query reads the stored posting rows.
      val docs = t(s, d, "documents")
      val pidx = positionalIndex(s, d)
      // tokens projected once — element_at on the raw split expression
      // inside the lambda re-splits per access (the q147 lesson)
      val phrase = docs.select(TextAnalysis.tokens(col("text")).as("__toks"))
        .where(size(col("__toks")) >= 2)
        .select(explode(transform(
            slice(col("__toks"), lit(1), size(col("__toks")) - 1),
            (tk, i) => concat_ws(" ", tk, element_at(col("__toks"), i + 2))))
          .as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("f"))
        .orderBy(desc("f"), asc("bg")).limit(1)
        .collect().head.getString(0)
      Search.searchPhrase(pidx, phrase.split(" ").toSeq).orderBy("id")
    }),

    "q131_ranked_search" -> ((s, d) => {
      // Ranked retrieval over the weighted posting index: top-10 docs by
      // Σ tf·idf with idf in integer micro-nats (rounded once per term —
      // the q107 seam rule), ties to the lowest id. Query = vocabulary
      // ranks 18-21, so scores mix rare and common term contributions.
      // The weighted index persists once (the q130 convention); the
      // query serves from the stored (token, id, tf) rows.
      val docs = t(s, d, "documents")
      val wpath = weightedIndex(s, d)
      val terms = TextAnalysis.topTokens(docs, "text", 21)
        .orderBy(desc("freq"), asc("token"))
        .collect().map(_.getString(0)).slice(17, 21).toSeq
      Search.searchRanked(s.read.parquet(s"$wpath/postings"),
          s.read.parquet(s"$wpath/stats"), terms, 10)
        .orderBy("id")
    }),

    "q130_inverted_search" -> ((s, d) => {
      // Persisted inverted index (distinct posting ROWS, never per-token
      // arrays) built once; a conjunctive query answers from the stored
      // postings with no corpus rescan. Query terms are data-derived and
      // deterministic: vocabulary ranks 20-21 under the (freq DESC,
      // token ASC) rule — low-frequency in this 31-token synthetic
      // vocabulary, so the AND is selective.
      val docs = t(s, d, "documents")
      val index = invertedIndex(s, d)
      val terms = TextAnalysis.topTokens(docs, "text", 21)
        .orderBy(desc("freq"), asc("token"))
        .collect().map(_.getString(0)).slice(19, 21).toSeq
      Search.searchConjunctive(index, terms).orderBy("id")
    }),

    "q129_retention_cohorts" -> ((s, d) => {
      // Retention triangle: users cohort by the epoch week of their first
      // event; each cell counts distinct cohort users active k weeks
      // later (k ≤ 12). Weeks are days-since-1970 div 7 — integer
      // arithmetic, no locale-dependent week-of-year.
      Sessionize.retentionCohorts(events(s, d), "user_id", "ts", 12)
        .orderBy("cohort_week", "week_offset")
    }),

    "q128_event_funnel" -> ((s, d) => {
      // Strict sequential funnel over the event stream: view → click →
      // purchase, each stage requiring an event at or after the user's
      // earliest qualifying previous-stage event (out-of-order events
      // don't count). Conversion vs stage 1 in integer permille.
      Sessionize.funnel(events(s, d), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy("stage_idx")
    }),

    "q127_table_profile" -> ((s, d) => {
      // One-pass table profile over orders: rows, nulls, exact distincts,
      // native-typed min/max per column — one scan, one aggregate, where
      // a per-column profiler loop would scan the table five times.
      Profile.tableProfile(spread(t(s, d, "orders")),
          Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority", "o_orderdate"))
        .orderBy("col_name")
    }),

    "q126_training_prep" -> ((s, d) => {
      // The training-prep counterpart of q55's curation chain, ONE
      // composed plan: temperature mixture (α=1/2, integer-exact
      // thresholds) → greedy no-split packing per source → sequence-level
      // deterministic epoch shuffle. Output is the epoch plan a trainer
      // consumes: per packed sequence its fill and its reproducible
      // shuffle position. Every stage is an audited operator; the oracle
      // replays the chain stage for stage (threshold chain, greedy
      // recursion, md5 total order).
      val docs = t(s, d, "documents")
      val kept = Sampling.sampleByTemperature(docs, "source", "doc_id",
        budgetPermille = 500, salt = "prep1")
      val packed = Packing.packGreedy(kept, "doc_id", "text", "source", 128)
      val seqs = packed.groupBy(col("shard"), col("seq_idx"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
        .withColumn("seq_key",
          concat_ws("#", col("shard"), col("seq_idx").cast("string")))
      Sampling.shuffleOrder(seqs, "seq_key", "epoch0")
        .select(col("shard"), col("seq_idx"), col("n_docs"),
          col("seq_tokens"), col("shuffle_pos"))
        .orderBy("shard", "seq_idx")
    }),

    "q125_stream_cdc_probe" -> ((s, d) => {
      // Streaming ingest meets the persisted CHUNK ledger: even-id docs'
      // distinct CDC chunk hashes are stored once as parquet; odd-id docs
      // stream through the xmlng source and each micro-batch probes the
      // static ledger with the ZERO-shuffle per-doc reuse scan (no joins,
      // no streaming state — the q105 convention one level below the
      // document). Each doc arrives in exactly one batch and the probe is
      // per-doc independent, so the drained union equals the batch run.
      val docs = t(s, d, "documents")
      val ledger = TextAnalysis.cdcLedgerHashes(s.read.parquet(
        Fixtures.once(d, "cdc_ledger") {
          TextAnalysis.cdcChunkLedger(docs.where(col("doc_id") % 2 === 0), "text")
            .write.parquet(_)
        }))
      val batchIn = docs
        .where(col("doc_id") % 2 === 1 && col("doc_id") < 500)
        .select("doc_id", "text")
      val xin = xmlInput(d, "stream_cdc_in_v1", "doc")(batchIn)
      val base = Fixtures.scratch("stream_cdc_run")
      val stream = s.readStream.format("xmlng").option("rowTag", "doc")
        .schema(batchIn.schema).load(xin)
      drain(s, stream, base) { bdf =>
        Seq("out" -> TextAnalysis.cdcReuseAgainstLedger(bdf, "doc_id", "text", ledger))
      }.orderBy("doc_id")
    }),

    "q124_cdc_transfer_diff" -> ((s, d) => {
      // Chunk-level re-crawl bill: the q108 v1/v2 planting (drops + tail
      // edits), but measured in CDC chunks — an edited doc reuses every
      // chunk except the ones around its edit, the savings a doc-level
      // diff cannot see. Per-source reuse panel in integer permille.
      val docs = t(s, d, "documents")
      val v1 = docs.where(col("doc_id") % 10 =!= 0)
      val v2 = docs.where(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      TextAnalysis.cdcTransferDiff(v1, v2, "text", Seq("source"),
          maskBits = 5, minLen = 16, maxLen = 128)
        .orderBy("source")
    }),

    "q123_cdc_chunks" -> ((s, d) => {
      // Content-defined chunking: gear rolling hash (every constant
      // md5-derived), cuts at h mod 32 == 0 past 16 code points, forced at
      // 128. The per-source panel is sub-document dedup pressure — the
      // storage/transfer-dedup view a fixed-width blocker cannot give
      // (its blocks all shift on any edit).
      TextAnalysis.cdcChunkReport(t(s, d, "documents"), "text", Seq("source"),
          maskBits = 5, minLen = 16, maxLen = 128)
        .orderBy("source")
    }),

    "q122_near_dup_keep_best" -> ((s, d) => {
      // The full fuzzy-dedup decision: verified clusters → one survivor
      // per cluster by score argmax (ties to lowest id), with singletons
      // surviving untouched; clusters come from the STORED component
      // table (q46's artifact). Score is planted as (7·id) mod 100
      // (the q71 convention) so the oracle can replay the pick.
      val docs = t(s, d, "documents")
        .withColumn("score", (col("doc_id") * 7) % 100)
      Dedup.bestRepresentativesFromComponents(docs, "doc_id",
          dupComponents(s, d), col("score"))
        .select(col("doc_id").as("rep_id"), col("component"),
          col("cluster_size"), col("score"))
        .orderBy("component")
    }),

    "q120_link_domains" -> ((s, d) => {
      // Link extraction → per-domain mix: every doc gets 1-2 planted URLs
      // (the q52 PII-planting convention), hosts come from the native
      // parse_url expression, and the panel reports link and doc volumes
      // per domain — what a crawl pipeline watches to spot a host flooding
      // the mix. Map-side explode + one compact (domain, doc) aggregate.
      val planted = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" see https://host"), (col("doc_id") % 7).cast("string"),
          lit(".example"), (col("doc_id") % 3).cast("string"),
          lit(".com/p/"), col("doc_id").cast("string"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" and http://mirror"), (col("doc_id") % 5).cast("string"),
              lit(".example.org/x"))).otherwise(lit(""))).as("text"))
      TextAnalysis.extractLinkDomains(planted, "doc_id", "text")
        .groupBy("domain", "doc_id").agg(count(lit(1)).as("c"))
        .groupBy("domain")
        .agg(sum("c").as("n_links"), count(lit(1)).as("n_docs"))
        .orderBy("domain")
    }),

    "q121_dup_cluster_sizes" -> ((s, d) => {
      // Duplicate-cluster size distribution: the report every dedup run
      // ships — how many near-dup clusters of each size exist. Serves from
      // the STORED component table (q46's artifact, built once), then two
      // compact aggregates over (component) rows.
      dupComponents(s, d)
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"), sum("cluster_size").as("n_docs"))
        .orderBy("cluster_size")
    }),

    "q119_stratified_sample" -> ((s, d) => {
      // Exact stratified sample: a global budget of 100 docs apportioned
      // across languages by largest remainder (bases + top-up seats, ties
      // by key), winners by the salted-md5 capPerKey rule. id_sum pins
      // exact membership, not just the per-stratum counts.
      val docs = t(s, d, "documents")
      Sampling.sampleProportional(docs, "lang", "doc_id", 100, salt = "alloc1")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    }),

    "q118_oov_coverage" -> ((s, d) => {
      // Vocabulary-coverage audit: the corpus's own top-500 token
      // vocabulary, then each source's out-of-vocabulary token rate —
      // which sources a fixed tokenizer vocab will shred into fallbacks.
      // The vocab rides as a sorted hash table (zero-shuffle scoring).
      TextAnalysis.oovReport(t(s, d, "documents"), "text", Seq("source"), 500)
        .orderBy("source")
    }),

    "q117_lexical_diversity" -> ((s, d) => {
      // Per-source lexical-diversity panel: token and bigram type-token
      // ratios in integer permille. Template spam and dedup failures show
      // up as a collapsing bigram TTR before any human reads a document.
      TextAnalysis.lexicalDiversity(t(s, d, "documents"), "text", Seq("source"))
        .orderBy("source")
    }),

    "q116_padding_waste" -> ((s, d) => {
      // Padding-waste report: per source, batches of 16 docs padded to the
      // batch max under arrival (id) order vs length-sorted order. The gap
      // between the two rows is the token volume a fixed-shape training
      // step burns on padding when the loader does not length-bucket —
      // the measurement that justifies the packing operators (q63-q66).
      Packing.paddingWasteReport(t(s, d, "documents"),
          "doc_id", "text", "source", 16)
        .orderBy("shard", "strategy")
    }),

    "q115_split_leakage" -> ((s, d) => {
      // Split-hygiene check: id-keyed train/val/test assignment LEAKS
      // duplicate content across splits (a val doc whose exact text is in
      // train evaluates nothing). The corpus plants id-shifted copies of
      // every 11th doc — the copies draw fresh buckets, so some land in a
      // different split than their original — and the leakage matrix is
      // the existing source-overlap operator with split as the label.
      // Content-keyed assignment has zero leakage by construction
      // (spec-pinned in PipelineSuite).
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val copies = docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val assigned = Sampling.assignSplits(docs.unionByName(copies), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "seed42")
      Dedup.sourceOverlapMatrix(assigned, "text", "split")
        .orderBy("src_a", "src_b")
    }),

    "q114_suite_contamination" -> ((s, d) => {
      // Which eval suite does the contamination hit? The q50 eval split
      // (doc_id % 37 == 0) divided into three suites by doc_id % 3; the
      // report counts corpus docs sharing a 5-gram with EACH suite. The
      // benchmark reduces to distinct (suite, gram) rows and broadcasts;
      // only matched (suite, id) pairs reach an exchange.
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
        .withColumn("suite", concat(lit("suite"), (col("doc_id") % 3).cast("string")))
      Decontaminate.contaminationBySuite(
        docs, "doc_id", "text", bench, "text", "suite", 5)
        .orderBy("suite")
    }),

    "q113_lm_from_model" -> ((s, d) => {
      // Persisted-LM lifecycle (the q103/q104 convention applied to a
      // model): even-id docs train the add-one bigram LM ONCE (stored as
      // parquet); odd-id docs score against the stored table with no
      // refit — exact bigram term, unseen-bigram unigram fallback, or
      // vocabulary default, all pre-rounded micro-nats so a stored model
      // can never drift from a recomputed one.
      val docs = t(s, d, "documents")
      val model = bigramLm(s, d)
      TextAnalysis.bigramLmScoreWithModel(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text", model)
        .withColumnRenamed("id", "doc_id")
    }),

    "q111_packing_report" -> ((s, d) => {
      // Packing efficiency panel over the q66 greedy assignment: per
      // shard, sequence count, packed docs/tokens, and overall fill in
      // integer permille of the sequence budget — the number that says
      // whether the packing budget fits the corpus's length distribution.
      val packed = Packing.packGreedy(
        t(s, d, "documents"), "doc_id", "text", "source", 128L)
      packed.groupBy("shard")
        .agg(count_distinct(col("seq_idx")).as("n_seqs"),
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"))
        .withColumn("fill_permille",
          expr("sum_tokens * 1000 DIV (n_seqs * 128)"))
        .orderBy("shard")
    }),

    "q112_source_quantiles" -> ((s, d) => {
      // Per-source token-count quantiles: the q73 exact-integer histogram
      // rule partitioned by source — the panel that sets per-source
      // packing budgets and length filters. Windows see only the
      // histogram, never per-doc rows.
      TextAnalysis.tokenCountQuantilesBy(t(s, d, "documents"), "text",
        Seq("source"), Seq(250, 500, 750, 900))
        .orderBy("source", "p_permille")
    }),

    "q109_eval_overlap" -> ((s, d) => {
      // Contamination AUDIT panel behind q50's drop decision: per-doc
      // distinct 5-gram count, eval-set overlap count, and the overlap
      // fraction in integer permille — the WMT-style graded threshold
      // input. Same zero-shuffle table-rides-with-task shape as q50;
      // equals the string-gram oracle absent a 64-bit collision.
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
      Decontaminate.overlapStats(docs, "doc_id", "text", bench, "text", 5)
    }),

    "q110_json_props" -> ((s, d) => {
      // Semi-structured metadata extraction: events.props is a JSON string
      // column; from_json (native JsonToStructs, no UDF) parses it once
      // per row, then a per-type aggregate over the extracted field —
      // the metadata-sidecar shape (image EXIF, crawl headers) at corpus
      // scale: parse map-side, aggregate on compact extracted values.
      events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    }),

    "q108_corpus_diff" -> ((s, d) => {
      // Corpus refresh diff: v1 drops every 10th doc; v2 drops every 7th
      // and EDITS every 5th's text — a deterministic re-crawl with drops,
      // adds, and modifications (an edit counts as removed + added, the
      // content-keyed semantics). Per-source add/remove/retain panel.
      val docs = t(s, d, "documents")
      val v1 = docs.where(col("doc_id") % 10 =!= 0)
      val v2 = docs.where(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      Dedup.corpusDiff(v1, v2, "text", Seq("source")).orderBy("source")
    }),

    "q107_bigram_lm" -> ((s, d) => {
      // Corpus-self-trained bigram LM quality score (the CCNet filter
      // shape): add-one-smoothed bigram log-probs in integer micro-nats,
      // per-doc mean. The one ln() in the plan is rounded once per
      // DISTINCT bigram before anything sums it, so per-doc aggregation
      // is exact integer arithmetic and replays on any engine.
      TextAnalysis.bigramLmScore(t(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    }),

    "q40_sessionize" -> ((s, d) => {
      // Gap-based sessionization via session_window (same operator runs in
      // Structured Streaming with a watermark; see StreamingSessionSuite).
      Sessionize.sessions(events(s, d), "user_id", "ts", "30 minutes",
        Seq("sum_value" -> sum(dec3(col("value"))).cast("double")))
    }),

    "q42_dedup_paragraphs" -> ((s, d) => {
      // Paragraph-level exact dedup over a deterministic paragraphed corpus
      // built from `documents`: each doc = own text + next doc's text + the
      // text of doc (id % 50). The third chunk repeats across ~n/50 docs
      // (and IS the first chunk for ids < 50), planting cross-document and
      // within-document duplicate paragraphs with an exact SQL oracle.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val d2 = docs.select(col("doc_id").as("id2"), col("text").as("t2"))
      val d3 = docs.select(col("doc_id").as("id3"), col("text").as("t3"))
      val corpus = docs
        .join(d2, col("id2") === col("doc_id") + 1, "left")
        .join(d3, col("id3") === col("doc_id") % 50)
        .select(col("doc_id"),
          concat(col("text"), lit("\n\n"), coalesce(col("t2"), lit("")),
            lit("\n\n"), col("t3")).as("text"))
      Dedup.dedupParagraphs(corpus, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    }),

    "q30_multimodal_features" -> ((s, d) => {
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
    }),

    "q31_lang_id" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "q32_rolling_hash" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("rh"))
        .orderBy("doc_id")
    }),

    "q44_to_xml_roundtrip" -> ((s, d) => {
      // to_xml/from_xml as a column-level identity over real data: serialize
      // each supplier row to an XML string, parse it back, project the
      // parsed fields. Exercises escaping (comments contain &<>"), nulls,
      // and numeric text through both directions of the column surface.
      val sup = t(s, d, "supplier").select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType)))
      sup.select(graft.xml.to_xml(struct(
          col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal")))
          .as("xml"))
        .select(graft.xml.from_xml(col("xml"), schema).as("r"))
        .select(col("r.s_suppkey").as("s_suppkey"), col("r.s_name").as("s_name"),
          col("r.s_nationkey").as("s_nationkey"), col("r.s_acctbal").as("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    "q43_stream_nation" -> ((s, d) => {
      // The native streaming file source gated by the batch oracle: the same
      // XML directory drained as a stream (file discovery, durable offset
      // log, per-batch parse) must equal the plain batch read of nation.
      val nation = t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val path = xmlInput(d, "stream_nation_v1", "nation")(nation)
      val sinkName = "q43_sink_" + new java.io.File(d).getName.replace('.', '_')
      val q = s.readStream.format("xmlng").option("rowTag", "nation")
        .schema(nation.schema).load(path)
        .writeStream.format("memory").queryName(sinkName).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sinkName).orderBy("n_nationkey")
    }),

    "q58_stream_decontaminate" -> ((s, d) => {
      // Curation meets the streaming surface: documents written as XML,
      // drained through the native xmlng stream source with the
      // decontamination filter applied per micro-batch (stateless
      // map-side membership test — safe on unbounded streams), gated by
      // the batch oracle. The eval set is the same doc_id % 37 slice as
      // q50, read as a batch frame.
      val docs = t(s, d, "documents").select("doc_id", "text", "source")
      val path = xmlInput(d, "stream_decon_v1", "doc")(docs)
      val bench = docs.filter(col("doc_id") % 37 === 0)
      val stream = s.readStream.format("xmlng").option("rowTag", "doc")
        .schema(docs.schema).load(path)
      val cleaned = Decontaminate.decontaminate(
        stream, "doc_id", "text", bench, "text", 5)
      val sinkName = "q58_sink_" + new java.io.File(d).getName.replace('.', '_')
      val q = cleaned.select("doc_id", "source")
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sinkName).orderBy("doc_id")
    }),

    "q45_stream_sink_roundtrip" -> ((s, d) => {
      // The full streaming loop gated by the batch oracle: customer → XML
      // files → xmlng stream source → xmlng stream sink (per-batch commit
      // log, complete XML documents per part) → plain batch read of the
      // sink directory. Everything between the two parquet reads is the
      // engine's own streaming surface.
      val cust = t(s, d, "customer").select("c_custkey", "c_name", "c_acctbal")
      // Fresh run each invocation: stale sink commits or checkpoints from a
      // previous run would mask the new input.
      val base = Fixtures.scratch("stream_sink")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      cust.write.format("graft.xml").option("rowTag", "customer").save(inDir)
      val q = s.readStream.format("xmlng").option("rowTag", "customer")
        .schema(cust.schema).load(inDir)
        .writeStream.format("xmlng").option("rowTag", "customer")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(outDir)
      try q.processAllAvailable() finally q.stop()
      s.read.format("xmlng").option("rowTag", "customer")
        .schema(cust.schema).load(outDir)
        .orderBy("c_custkey")
    }),

    "q59_semantic_dedup" -> ((s, d) => {
      // SemDeDup: embedding-space near-duplicates (cosine >= 0.42, the
      // threshold the q28/q29 oracles pin) collapse to their component's
      // min vec_id; survivors = representatives + singletons. Same pair
      // threshold as q29, so the oracle replays exact pairs + a recursive
      // CTE for the components.
      Similarity.semanticDupRepresentatives(
        t(s, d, "embeddings"), "vec_id", "embedding", 64, 0.42)
        .select("vec_id")
    }),

    "q60_dup_span_coverage" -> ((s, d) => {
      // Substring-level dedup signal (Lee et al. 2022): per doc, the
      // fraction of tokens covered by a 5-gram occurring in >= 2 distinct
      // docs. One gram exchange feeds both the min!=max duplicate decision
      // and the membership semi-join; covered length is a lag window
      // (fixed-size intervals: union = n + sum(min(n, gap))). n=5 matches
      // the q50 gram size so planted dups light up at sf0.001 too.
      Dedup.duplicateSpanCoverage(t(s, d, "documents"), "doc_id", "text", 5)
    }),

    "q61_remove_dup_spans" -> ((s, d) => {
      // ExactSubstr-cut companion to q60: tokens covered by a shared 5-gram
      // are removed and docs rebuilt from the survivors in order. The
      // oracle replays the same grams and a correlated interval test, then
      // reassembles with string_agg ordered by token index.
      Dedup.removeDuplicateSpans(t(s, d, "documents"), "doc_id", "text", 5)
    }),

    "q62_quality_filter" -> ((s, d) => {
      // Gopher/C4 composite gate with per-rule accounting: keep flag +
      // comma-joined violated-rule tags for every doc. All map-side; the
      // oracle recomputes each stat with the q21/q22/q54 formulations and
      // replays the thresholds verbatim.
      TextAnalysis.qualityFilter(t(s, d, "documents"), "doc_id", "text",
        minTokens = 20)
    }),

    "q79_stream_quality" -> ((s, d) => {
      // The quality gate on the streaming surface: documents drain through
      // the xmlng stream source with the Gopher/C4 composite applied per
      // micro-batch — every signal is a stateless map-side scalar, so the
      // same operator is safe on an unbounded stream. Gated by the batch
      // oracle (streaming survivors must equal q62's keep set).
      val docs = t(s, d, "documents").select("doc_id", "text", "source")
      val path = xmlInput(d, "stream_quality_v1", "doc")(docs)
      val stream = s.readStream.format("xmlng").option("rowTag", "doc")
        .schema(docs.schema).load(path)
      val gated = TextAnalysis.qualityFilter(stream, "doc_id", "text",
        minTokens = 20).filter(col("keep"))
      val sinkName = "q79_sink_" + new java.io.File(d).getName.replace('.', '_')
      val q = gated.select("doc_id")
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sinkName).orderBy("doc_id")
    }),

    "q95_stream_trending" -> ((s, d) => {
      // Trending tokens on the streaming surface: event-time windowed
      // token counts (1h tumbling, epoch-aligned) as a STATEFUL streaming
      // aggregation over the xmlng source — the operator shape behind any
      // "what's spiking this hour" corpus monitor. Complete output mode
      // drains every window; the batch oracle recomputes the identical
      // windowed counts, so streaming state must agree with batch exactly.
      val docs = t(s, d, "documents").select("doc_id", "text")
      val path = xmlInput(d, "stream_trending_v1", "doc")(docs)
      val stream = s.readStream.format("xmlng").option("rowTag", "doc")
        .schema(docs.schema).load(path)
      val counts = stream
        .withColumn("ts", timestamp_seconds(lit(1600000000L) + col("doc_id") * 60))
        .select(col("ts"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(window(col("ts"), "1 hour"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 100)
        .select(col("window.start").as("wstart"), col("token"), col("cnt"))
      val sinkName = "q95_sink_" + new java.io.File(d).getName.replace('.', '_')
      val q = counts.writeStream.format("memory").queryName(sinkName)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sinkName).orderBy("wstart", "token")
    }),

    "q63_pack_greedy" -> ((s, d) => {
      // T5-style greedy no-split sequence packing into 128-token budgets,
      // sharded by source: a doc joins the current sequence iff it fits.
      // O(1)-state sorted-group scan; the oracle replays the same greedy
      // recurrence with a recursive CTE.
      Packing.packGreedy(t(s, d, "documents"), "doc_id", "text", "source", 128)
    }),

    "q64_pack_concat" -> ((s, d) => {
      // GPT-style concat-and-chunk packing: per-shard token stream cut
      // every 128 tokens, docs may span cuts. Pure window arithmetic.
      Packing.packConcat(t(s, d, "documents"), "doc_id", "text", "source", 128)
    }),

    "q66_pack_sequences" -> ((s, d) => {
      // Materialized greedy packing: the model-ready sequences themselves,
      // emitted incrementally from the same one-shuffle sorted-group scan
      // as q63 (text crosses the wire once; no assignment join-back). The
      // oracle replays the recurrence (recursive CTE) then string_aggs the
      // members in id order.
      Packing.packSequences(t(s, d, "documents"), "doc_id", "text", "source", 128)
    }),

    "q65_image_resize" -> ((s, d) => {
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
    }),

    "q67_audio_features" -> ((s, d) => {
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
    }),

    "q68_video_frames" -> ((s, d) => {
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
    }),

    "q69_avi_frames" -> ((s, d) => {
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
    })
  )

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
  private def fixtureTable(
      s: SparkSession, dir: String, kind: String,
      mk: Column => Column): DataFrame =
    s.read.parquet(Fixtures.once(dir, s"fixture_${kind}_v1") {
      t(s, dir, "documents").select(col("doc_id"), mk(col("doc_id")).as("payload"))
        .write.parquet(_)
    })

  /** Planted-video fixture for q68: frame count, dims and colors are pure
    * integer functions of (doc_id, frame index), replayed exactly by the
    * DuckDB oracle — change them only together. */
  private lazy val fixtureGfv = udf((id: Long) => {
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
  private lazy val fixtureAvi = udf((id: Long) => {
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
  private lazy val fixtureFpWav = udf((id: Long) => {
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
  private lazy val fixtureWav = udf((id: Long) => {
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
  private lazy val fixtureGradPng = udf((id: Long) => {
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
  private lazy val fixtureTwoTonePng = udf((id: Long) => {
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
  private lazy val fixturePng = udf((id: Long) => {
    val w = 1 + (id % 8).toInt
    val h = 1 + (id % 5).toInt
    val rgb = (((id % 256) << 16) | (((id * 7) % 256) << 8) | ((id * 13) % 256)).toInt
    ImageCodec.encodePng(w, h, rgb)
  })

  /** The Morton-interleave bit terms as SQL text — `((x >> i) & 1) << 2i`
    * summed — mirroring [[Layout.zValue2]]'s shift/mask/shift Columns
    * term for term (the shared-arithmetic convention: both engines run
    * the same integer expression, so z-values agree bit-for-bit). */
  private def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

  /** [[graft.pipeline.Similarity.kmeansLloydAssign]]'s exact recurrence
    * as DuckDB iteration CTEs: micro quantization, md5-seeded init,
    * integer-L2 argmin with (d2, cluster) ties, truncating-div centroid
    * updates with empty-cluster carry. `c$iters` is the final centroid
    * table the caller assigns against. */
  /** The embeddings table micro-quantized to (id, dim, q) rows — the
    * shared `ex` CTE every Lloyd-family oracle trains from. */
  private val embeddingsExCte: String =
    """ex AS MATERIALIZED (
      |  SELECT vec_id AS id, p.i - 1 AS dim,
      |    CAST(round(CAST(p.x AS DOUBLE) * 1e6) AS BIGINT) AS q
      |  FROM embeddings,
      |    unnest(list_transform(embedding, (x, i) -> {'x': x, 'i': i})) AS t(p))"""
      .stripMargin

  private def lloydOracleCtes(k: Int, iters: Int, seed: String): String =
    s"$embeddingsExCte,\n${lloydIterOracleCtes(k, iters, seed)}"

  /** The integer-Lloyd replay CTE chain (seeds → c0 → a1/c1 … a_n/c_n)
    * over a caller-provided `ex(id, dim, q)` micro-quantized CTE — the
    * q204 arithmetic, source-agnostic so composed gates (q232's chunk
    * embeddings) share it verbatim with the embeddings-table gates. */
  private def lloydIterOracleCtes(
      k: Int, iters: Int, seed: String, exTable: String = "ex"): String = {
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
    * clusters keeping their previous centroid. */
  private def twoLevelOracleCtes(
      kc: Int, kf: Int, itersC: Int, itersF: Int, seed: String,
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
    s"""WITH ${lloydOracleCtes(k = 8, iters = 3, seed = "km")}
      |SELECT id, CAST(cluster AS INTEGER) AS cluster, d2 FROM (
      |  SELECT e.id, c.cluster,
      |    CAST(sum((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS d2
      |  FROM ex e JOIN c3 c ON e.dim = c.dim
      |  GROUP BY e.id, c.cluster)
      |QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1
      |ORDER BY id""".stripMargin

  /** q230: [[graft.pipeline.Sessionize.ewmaSmooth]]'s lag chain with the
    * SAME integer weight table (`Sessionize.ewmaWeights(800, 12)`) both
    * engines consume — no float recurrence anywhere. */
  private def ewmaOracleSql: String = {
    val ws = graft.pipeline.Sessionize.ewmaWeights(800, 12)
    val num = ws.zipWithIndex.map { case (wk, k) =>
      s"coalesce(lag(v, $k) OVER w * $wk, 0)" }.mkString(" + ")
    val den = ws.zipWithIndex.map { case (wk, k) =>
      s"CASE WHEN lag(v, $k) OVER w IS NOT NULL THEN $wk ELSE 0 END" }
      .mkString(" + ")
    s"""WITH hour AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hb,
      |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) // count(*)
      |      AS BIGINT) AS vm
      |  FROM events GROUP BY 1, 2),
      |q AS (
      |  SELECT event_type, hb,
      |    CAST(round((CAST(vm AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS v
      |  FROM hour)
      |SELECT event_type, hb, v AS value_micro,
      |  CAST(($num) // ($den) AS BIGINT) AS ewma_micro
      |FROM q WINDOW w AS (PARTITION BY event_type ORDER BY hb)
      |ORDER BY event_type, hb""".stripMargin
  }

  /** Planted-HTML fixture for q201: each document's text wrapped in a
    * deterministic page (style block, conditional script with a bare `<`
    * and a fake tag INSIDE it, comment, tags, all six entities incl. the
    * double-escape `&amp;amp;`) — one SQL string both engines run
    * verbatim, the q161 planting convention. */
  private val markupFixtureSql: String =
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
  private def stripMarkupSql(c: String): String = {
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
  private def nbLabelCol: Column =
    expr("regexp_extract(source, '^src[0-9]+', 0) " +
      "IN ('src0', 'src1', 'src2', 'src3')")

  private val nbLabelSql: String =
    "regexp_extract(source, '^src[0-9]+') IN ('src0', 'src1', 'src2', 'src3')"

  /** [[graft.pipeline.Classify.nbTrainHashed]]'s exact fit replay as
    * DuckDB CTEs — md5 token buckets (the q97 hash), per-class
    * occurrence counts, the 64-row grid LLR table `w` (every bucket
    * present, add-one smoothing, ONE ln() rounded to micro-nats per
    * bucket) and the doc-count prior row `pr`. Shared verbatim by q233
    * (the fit gate) and q234 (the stored-model serve gate, whose stored
    * == refit contract is exactly this SQL). */
  private def nbOracleCtes: String =
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

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,3)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_top_revenue_orders" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,3)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q03_latest_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q04_distinct_parts_per_flag" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q05_rollup_counts" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q06_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q07_region_revenue" ->
      """SELECT r_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS order_cnt
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q08_semi_anti_join" ->
      """SELECT kind, count(*) AS cnt FROM (
        |  SELECT 'has_orders' AS kind, c_custkey FROM customer
        |    WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |  UNION ALL
        |  SELECT 'no_orders' AS kind, c_custkey FROM customer
        |    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
        |GROUP BY kind ORDER BY kind""".stripMargin,

    "q10_xml_roundtrip_nation" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    "q11_xml_infer_region" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "q12_xml_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,3)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q13_xml_join_supplier_nation" ->
      """SELECT n_name, count(*) AS suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q14_xml_attrs_part" ->
      """SELECT p_partkey AS "_partkey", p_brand AS "_brand", p_retailprice
        |FROM part WHERE p_partkey <= 100 ORDER BY p_partkey""".stripMargin,

    "q47_xml_v2_scan" ->
      """SELECT n_name, count(*) AS suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_acctbal >= 0
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q15_xml_nested_orders" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q16_from_xml_orders" ->
      """SELECT o_orderkey, CAST(o_orderkey AS BIGINT) AS k, o_orderpriority AS p
        |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin,

    "q17_xml_window_orders" ->
      """SELECT o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS recent_two_total
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn <= 2 GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q18_schema_of_xml" ->
      "SELECT 'k BIGINT,p STRING' AS ddl, count(*) AS cnt FROM orders",

    "q41_schema_of_xml_sampled" ->
      "SELECT 'k BIGINT,p STRING' AS ddl, count(*) AS cnt FROM orders",

    "q42_dedup_paragraphs" ->
      """WITH corpus AS (
        |  SELECT d1.doc_id,
        |    d1.text || chr(10) || chr(10) || coalesce(d2.text, '')
        |      || chr(10) || chr(10) || d3.text AS text
        |  FROM documents d1
        |  LEFT JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        |  JOIN documents d3 ON d3.doc_id = d1.doc_id % 50
        |), paras AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(parts) + 1)) AS idx,
        |    unnest(parts) AS para
        |  FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts
        |        FROM corpus)
        |), ranked AS (
        |  SELECT doc_id, idx, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
        |  FROM paras
        |)
        |SELECT c.doc_id,
        |  coalesce(string_agg(r.para, chr(10) || chr(10) ORDER BY r.idx), '')
        |    AS cleaned
        |FROM corpus c
        |LEFT JOIN ranked r ON r.doc_id = c.doc_id AND r.rn = 1
        |GROUP BY c.doc_id""".stripMargin,

    "q19_xsd_nation" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "q43_stream_nation" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "q44_to_xml_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",

    "q45_stream_sink_roundtrip" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey",

    "q34_parse_modes" ->
      """SELECT 'dropmalformed' AS mode,
        |  count(*) FILTER (WHERE o_orderkey % 10 <> 0) AS cnt,
        |  CAST(0 AS BIGINT) AS corrupt_cnt
        |FROM orders
        |UNION ALL
        |SELECT 'permissive' AS mode, count(*) AS cnt,
        |  count(*) FILTER (WHERE o_orderkey % 10 = 0) AS corrupt_cnt
        |FROM orders
        |ORDER BY mode""".stripMargin,

    "q37_xsd_validation" ->
      """SELECT count(*) FILTER (WHERE o_orderkey % 7 <> 0) AS valid_cnt
        |FROM orders""".stripMargin,

    "q38_from_xml_string" ->
      """SELECT CAST(42 AS BIGINT) AS k, 'urgent' AS p, count(*) AS cnt
        |FROM orders""".stripMargin,

    "q39_insert_overwrite" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",

    "q35_explode_lineitems" ->
      """SELECT l_orderkey AS o_orderkey, count(*) AS item_cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // q71: replay the planted copy formulas, then the same
    // (score desc, id asc) window pick per md5(text) group.
    "q71_dedup_keep_best" ->
      """WITH c AS (
        |  SELECT doc_id * 10 + u.k AS copy_id, text,
        |         (doc_id * 7 + u.k * 31) % 50 AS score
        |  FROM documents, UNNEST(range(1 + doc_id % 3)) AS u(k)),
        |r AS (
        |  SELECT copy_id, score,
        |    count(*) OVER (PARTITION BY md5(text)) AS dup_count,
        |    row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY score DESC, copy_id) AS rn
        |  FROM c)
        |SELECT CAST(copy_id AS BIGINT) AS copy_id,
        |       CAST(score AS BIGINT) AS score,
        |       CAST(dup_count AS BIGINT) AS dup_count
        |FROM r WHERE rn = 1 ORDER BY copy_id""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,

    "q72_corpus_report" ->
      """WITH s AS (
        |  SELECT source, lang, text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tc
        |  FROM documents)
        |SELECT source, lang,
        |  count(*) AS n_docs,
        |  CAST(coalesce(sum(tc), 0) AS BIGINT) AS total_tokens,
        |  CAST(coalesce(sum(len(text)), 0) AS BIGINT) AS total_chars,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
        |  CAST(sum(CASE WHEN tc < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short_docs
        |FROM s GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    // q73: same type-1 quantile — smallest tc whose cumulative doc count
    // reaches ceil(p*n), computed as (p*n + 999) // 1000 in pure integer
    // arithmetic (permille quantiles: no float seam between engines) —
    // over the identical token-count formula.
    "q73_token_quantiles" ->
      """WITH t AS (
        |  SELECT CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tc
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT tc, count(*) AS c FROM t GROUP BY tc),
        |cum AS (
        |  SELECT tc, sum(c) OVER (ORDER BY tc
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    (SELECT sum(c) FROM h) AS n
        |  FROM h)
        |SELECT CAST(p AS BIGINT) AS p_permille,
        |       CAST(min(tc) AS BIGINT) AS token_count
        |FROM cum, (SELECT unnest([250, 500, 750, 900, 990, 1000]) AS p) ps
        |WHERE cum >= (p * n + 999) // 1000
        |GROUP BY p ORDER BY p""".stripMargin,

    // q74: replay the planted corpus/batch split and the digest anti-join;
    // the explicit IS NULL arm mirrors Spark left_anti semantics (a null
    // key never matches, so null-text rows survive) against NOT IN's
    // three-valued logic.
    "q74_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT DISTINCT md5(text) AS dg FROM documents WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT doc_id * 2 + u.k AS copy_id, md5(text) AS dg
        |  FROM documents, UNNEST([0, 1]) AS u(k)),
        |fresh AS (
        |  SELECT copy_id, dg FROM batch
        |  WHERE dg IS NULL
        |     OR dg NOT IN (SELECT dg FROM corpus WHERE dg IS NOT NULL)),
        |r AS (
        |  SELECT copy_id,
        |    count(*) OVER (PARTITION BY dg) AS dup_count,
        |    row_number() OVER (PARTITION BY dg ORDER BY copy_id) AS rn
        |  FROM fresh)
        |SELECT CAST(copy_id AS BIGINT) AS copy_id,
        |       CAST(dup_count AS BIGINT) AS dup_count
        |FROM r WHERE rn = 1 ORDER BY copy_id""".stripMargin,

    // q75: replay the integer temperature arithmetic exactly — corrected
    // isqrt, HUGEINT products, one floor division per source — then the
    // same salted md5 bucket membership.
    "q75_temperature_mixture" ->
      """WITH n AS (SELECT source, count(*) AS n FROM documents
        |           WHERE source IS NOT NULL GROUP BY source),
        |w0 AS (SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS w0 FROM n),
        |w AS (SELECT source, n,
        |        CASE WHEN w0 * w0 > n THEN w0 - 1
        |             WHEN (w0 + 1) * (w0 + 1) <= n THEN w0 + 1
        |             ELSE w0 END AS w
        |      FROM w0),
        |s AS (SELECT sum(w) AS sw, sum(n) AS total FROM w),
        |t AS (SELECT source,
        |        least(CAST(1000000 AS HUGEINT),
        |          (CAST(total AS HUGEINT) * 500 // 1000) * w * 1000000
        |            // (CAST(sw AS HUGEINT) * n)) AS thr
        |      FROM w, s),
        |b AS (SELECT source, doc_id,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'temp1'), 25, 8))::BIGINT
        |          % 1000000 AS bucket
        |      FROM documents)
        |SELECT b.source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM b JOIN t ON b.source = t.source
        |WHERE b.bucket < t.thr
        |GROUP BY b.source ORDER BY b.source""".stripMargin,

    // q76: replay the sketch exactly — distinct 60-bit md5 hashes, the
    // 64th smallest per group, (k-1)*2^60 // h_k in HUGEINT; exact count
    // below k. LEFT JOIN keeps sources whose texts are all NULL (kmv 0).
    "q76_kmv_distinct" ->
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
        |ORDER BY ex.source""".stripMargin,

    "q21_text_stats" ->
      """SELECT doc_id,
        |  CASE WHEN len(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS token_count,
        |  CAST(len(text) AS INTEGER) AS char_count,
        |  CASE WHEN len(trim(text)) = 0 THEN 0.0
        |       ELSE CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> len(t))) AS DOUBLE)
        |            / len(string_split_regex(trim(text), '\s+')) END AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q48_vocab_topk" ->
      """SELECT token, count(*) AS freq
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |      FROM documents WHERE len(trim(text)) > 0)
        |GROUP BY token ORDER BY freq DESC, token LIMIT 100""".stripMargin,

    "q49_split_assign" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'seed42'), 25, 8))::BIGINT
        |      % 1000000 AS bucket
        |  FROM documents),
        |assigned AS (
        |  SELECT doc_id,
        |    CASE WHEN bucket < 800000 THEN 'train'
        |         WHEN bucket < 900000 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b),
        |sub AS (
        |  SELECT count(*) AS sampled_cnt,
        |         CAST(sum(doc_id) AS BIGINT) AS sampled_id_sum
        |  FROM documents
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'sub1'), 25, 8))::BIGINT
        |          % 1000000 < 250000)
        |SELECT split, count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       sub.sampled_cnt, sub.sampled_id_sum
        |FROM assigned, sub
        |GROUP BY split, sub.sampled_cnt, sub.sampled_id_sum
        |ORDER BY split""".stripMargin,

    "q50_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks) - 4),
        |                i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
        |    END) AS gram
        |  FROM w),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM g
        |  WHERE gram IN (SELECT gram FROM g WHERE doc_id % 37 = 0))
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY d.doc_id""".stripMargin,

    // q70: exact replay of the Bloom bit arithmetic — position j of a gram
    // is md5 hex chars (8j+1)..(8j+8) mod 2^17; the eval split's positions
    // form the bit set, and a doc is dropped iff some gram finds all 4 of
    // its positions present (cross-gram bit collisions — the Bloom's false
    // positives — drop docs in BOTH engines identically).
    "q70_bloom_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks) - 4),
        |                i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
        |    END) AS gram
        |  FROM w),
        |pos AS (
        |  SELECT doc_id, gram, r.j,
        |    ('0x' || substr(md5(gram), 1 + 8 * r.j, 8))::BIGINT % 131072 AS p
        |  FROM g, range(4) AS r(j)),
        |bits AS (SELECT DISTINCT p FROM pos WHERE doc_id % 37 = 0),
        |hit AS (
        |  SELECT doc_id FROM pos
        |  WHERE p IN (SELECT p FROM bits)
        |  GROUP BY doc_id, gram
        |  HAVING count(*) = 4)
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE d.doc_id NOT IN (SELECT DISTINCT doc_id FROM hit)
        |ORDER BY d.doc_id""".stripMargin,

    "q51_source_cap" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cap1'), 25, 8))::BIGINT
        |                  % 1000000,
        |               doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rk <= 15 ORDER BY doc_id""".stripMargin,

    "q52_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com via 10.'
        |         || CAST(doc_id % 256 AS VARCHAR) || '.0.1 or 555-'
        |         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199.' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS email_cnt,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS ip_cnt,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INTEGER) AS phone_cnt
        |FROM p ORDER BY doc_id""".stripMargin,

    "q53_chunk_tokens" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start
        |  FROM w)
        |SELECT doc_id,
        |  CAST(start // 24 AS INTEGER) AS chunk_idx,
        |  array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text,
        |  CAST(least(32, len(toks) - start) AS INTEGER) AS chunk_tokens
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

    "q54_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    text || chr(10) || substr(text, 1, 40) || chr(10) || text AS mtext
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(mtext, chr(10)), x -> trim(x)),
        |                x -> len(x) > 0) AS lines
        |  FROM base),
        |dl AS (
        |  SELECT doc_id,
        |    CASE WHEN len(lines) = 0 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
        |    END AS dup_line_frac
        |  FROM l),
        |w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM base),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(len(toks) - 1),
        |           i -> toks[i + 1] || ' ' || toks[i + 2])) AS gram
        |  FROM w WHERE len(toks) >= 2),
        |c AS (
        |  SELECT doc_id, CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top_bigram_frac
        |  FROM (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
        |  GROUP BY doc_id)
        |SELECT dl.doc_id, dl.dup_line_frac,
        |       coalesce(c.top_bigram_frac, 0.0) AS top_bigram_frac
        |FROM dl LEFT JOIN c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q57_tfidf_terms" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents WHERE len(trim(text)) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, score FROM (
        |  SELECT tf.doc_id, tf.term,
        |    round(CAST(tf.tf AS DOUBLE) * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY round(CAST(tf.tf AS DOUBLE) * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)), 6) DESC,
        |               tf.term) AS rank
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q56_mixture_sample" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix6'), 25, 8))::BIGINT
        |      % 1000000 AS bucket
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, source FROM b
        |  WHERE bucket < CASE source
        |    WHEN 'src0' THEN 1000000
        |    WHEN 'src1' THEN 500000
        |    WHEN 'src2' THEN 250000
        |    WHEN 'src3' THEN 0
        |    ELSE 100000 END)
        |SELECT source, count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM kept GROUP BY source ORDER BY source""".stripMargin,

    // Same survivors as q50 (the streaming path must equal the batch path),
    // with source carried through the XML roundtrip.
    "q58_stream_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks) - 4),
        |                i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
        |    END) AS gram
        |  FROM w),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM g
        |  WHERE gram IN (SELECT gram FROM g WHERE doc_id % 37 = 0))
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY d.doc_id""".stripMargin,

    "q55_curation_pipeline" ->
      """WITH tok AS (
        |  SELECT doc_id, text, source,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tc,
        |    CASE WHEN len(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE) / len(text) END AS pr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['the','and','of','to','is','a'], t))) AS en,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['el','la','los','las','es','y'], t))) AS es,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['le','la','les','est','et','une'], t))) AS fr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['der','die','das','ist','und','ein'], t))) AS de
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text, source, tc FROM tok
        |  WHERE en >= es AND en >= fr AND en >= de AND en > 0
        |    AND tc >= 30 AND pr < 0.1),
        |dd AS (
        |  SELECT doc_id, text, source, tc FROM (
        |    SELECT f.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM f)
        |  WHERE rn = 1),
        |w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks) - 4),
        |                i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
        |    END) AS gram
        |  FROM w),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM g
        |  WHERE gram IN (SELECT gram FROM g WHERE doc_id % 37 = 0)),
        |clean AS (
        |  SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        |capped AS (
        |  SELECT doc_id, text, source, tc FROM (
        |    SELECT clean.*, row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cap6'), 25, 8))::BIGINT
        |                  % 1000000,
        |               doc_id) AS rk
        |    FROM clean)
        |  WHERE rk <= 10)
        |SELECT
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split6'), 25, 8))::BIGINT
        |              % 1000000 < 900000
        |       THEN 'train' ELSE 'val' END AS split,
        |  source, count(*) AS cnt, CAST(sum(tc) AS BIGINT) AS tokens
        |FROM capped
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q22_text_quality" ->
      """SELECT doc_id,
        |  CASE WHEN len(text) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE) / len(text) END AS punct_ratio,
        |  CASE WHEN len(trim(text)) = 0 THEN 0.0
        |       ELSE CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |              t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','this','that'], lower(t)))) AS DOUBLE)
        |            / len(string_split_regex(trim(text), '\s+')) END AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q23_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q24_minhash_pairs" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |  len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // q171: the q46 closure restricted to (curated evens + the bounded
    // odd batch) -- the equality the star-edge incremental merge must hit.
    "q171_incremental_components" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks
        |  FROM documents
        |  WHERE doc_id % 2 = 0 OR (doc_id % 2 = 1 AND doc_id < 500)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
        |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u)
        |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "q46_dup_components" ->
      """WITH RECURSIVE t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
        |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u)
        |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "q25_ngram_jaccard_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
        |    ELSE list_distinct(list_transform(
        |      range(len(string_split_regex(trim(text), '\s+')) - 2),
        |      i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i + 1, i + 3), ' ')))
        |    END AS grams
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0 THEN 0.0
        |       ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |            len(list_distinct(list_concat(a.grams, b.grams))) END AS jaccard
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0 THEN 0.0
        |           ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |                len(list_distinct(list_concat(a.grams, b.grams))) END >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    // q77: same gram construction as q25, asymmetric measure — intersection
    // over |A|'s distinct grams, every ordered (a, b) pair within a block;
    // the planted leading-12-token snippets replayed verbatim.
    "q77_containment_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id,
        |    array_to_string(list_slice(string_split_regex(trim(text), '\s+'), 1, 12), ' ') AS text,
        |    source
        |  FROM documents
        |  WHERE doc_id % 17 = 0 AND len(string_split_regex(trim(text), '\s+')) >= 12),
        |t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
        |    ELSE list_distinct(list_transform(
        |      range(len(string_split_regex(trim(text), '\s+')) - 2),
        |      i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i + 1, i + 3), ' ')))
        |    END AS grams
        |  FROM corpus)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / len(a.grams)
        |    AS containment
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id <> b.doc_id
        |WHERE len(a.grams) > 0
        |  AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / len(a.grams) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "q27_ann_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS sim
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q28_embed_near_pairs" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.42
        |ORDER BY id_a, id_b""".stripMargin,

    // The LSH path is gated against the same exact-pair oracle as q28: at the
    // auto-sized planes/tables the sketch must retrieve every true pair.
    "q29_lsh_near_pairs" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.42
        |ORDER BY id_a, id_b""".stripMargin,

    "q36_simhash_dup_exact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(
        |      CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |           ELSE string_split_regex(trim(text), '\s+') END)) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM t a JOIN t b ON a.doc_id < b.doc_id AND a.toks = b.toks
        |ORDER BY id_a, id_b""".stripMargin,

    // Spark session semantics: an event at exactly prev_ts + gap starts a NEW
    // session (windows are [start, end)), hence the strict < in the oracle.
    "q40_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS events,
        |  CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q31_lang_id" ->
      ("""SELECT doc_id,
        |  CASE
        |    WHEN en >= es AND en >= fr AND en >= de AND en > 0 THEN 'en'
        |    WHEN es >= fr AND es >= de AND es > 0 THEN 'es'
        |    WHEN fr >= de AND fr > 0 THEN 'fr'
        |    WHEN de > 0 THEN 'de'
        |    ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['the','and','of','to','is','a'], t))) AS en,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['el','la','los','las','es','y'], t))) AS es,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['le','la','les','est','et','une'], t))) AS fr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['der','die','das','ist','und','ein'], t))) AS de
        |  FROM documents)
        |ORDER BY doc_id""").stripMargin,

    // q30's planted-fixture prediction (round 8): the Spark side ENCODES a
    // solid-color PNG per row and DECODES it with javax.imageio; dims and
    // mean color are pure functions of doc_id, so the oracle predicts the
    // decoded values without touching image bytes — equality holds only if
    // the real encode∘decode roundtrip is faithful.
    "q30_multimodal_features" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 8 AS INTEGER) AS width,
        |  CAST(1 + doc_id % 5 AS INTEGER) AS height,
        |  CAST(doc_id % 256 AS INTEGER) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS INTEGER) AS mean_g,
        |  CAST((doc_id * 13) % 256 AS INTEGER) AS mean_b
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Full recomputation of q26's md5-token SimHash pairs (round 8): rebuild
    // every 64-bit sketch from md5 hex slices (bit-vote per position, split
    // into two 32-bit halves so no sign-bit arithmetic is needed), then
    // all-pairs hamming ≤ 3 — the exact answer the 4-chunk pigeonhole is
    // guaranteed to produce at radius ≤ 3.
    "q26_simhash_pairs" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS t
        |  FROM d WHERE len(trim(text)) > 0),
        |th AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(t), 1, 8))::BIGINT AS h_hi,
        |    ('0x' || substr(md5(t), 9, 8))::BIGINT AS h_lo
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, bb,
        |    count(*) FILTER (WHERE (CASE WHEN bb >= 32 THEN (h_hi >> (bb - 32)) ELSE (h_lo >> bb) END) & 1 = 1) AS setc,
        |    count(*) AS ntok
        |  FROM th, (SELECT unnest(range(64)) AS bb)
        |  GROUP BY doc_id, bb),
        |sk0 AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN 2 * setc > ntok AND bb >= 32 THEN (1::BIGINT << (bb - 32)) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN 2 * setc > ntok AND bb < 32 THEN (1::BIGINT << bb) ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id),
        |sk AS (
        |  SELECT d.doc_id, coalesce(s.hi, 0) AS hi, coalesce(s.lo, 0) AS lo
        |  FROM d LEFT JOIN sk0 s USING (doc_id))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
        |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin,

    // Full recomputation of the md5-polynomial rolling hash (round 8): token
    // values from md5 hex chars 25..32, two 32-bit polynomial folds via
    // list_reduce (0 prepended as the fold's init), packed to 63 bits. Every
    // intermediate fits BIGINT — see Md5TokenPolyHash.
    "q32_rolling_hash" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN len(trim(text)) = 0 THEN 0
        |       ELSE (list_reduce(list_prepend(0::BIGINT, vals),
        |               (a, b) -> (a * 1000003 + b) % 4294967296) % 2147483648)
        |            * 4294967296
        |            + list_reduce(list_prepend(0::BIGINT, vals),
        |                (a, b) -> (a * 1000033 + b) % 4294967296)
        |  END AS rh
        |FROM (
        |  SELECT doc_id, text,
        |    list_transform(string_split_regex(trim(text), '\s+'),
        |      t -> ('0x' || substr(md5(t), 25, 8))::BIGINT) AS vals
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

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
    "q59_semantic_dedup" ->
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
        |ORDER BY vec_id""".stripMargin,

    "q60_dup_span_coverage" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS gram
        |  FROM w, UNNEST(CASE WHEN len(toks) < 5 THEN CAST([] AS BIGINT[])
        |                      ELSE range(len(toks) - 4) END) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |hits AS (
        |  SELECT doc_id, pos,
        |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM g WHERE gram IN (SELECT gram FROM dup)),
        |cov AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN prev IS NULL THEN 5 ELSE least(5, pos - prev) END) AS dup_tokens
        |  FROM hits GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CAST(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  round(CASE WHEN len(w.toks) IS NULL OR len(w.toks) = 0 THEN 0.0
        |             ELSE CAST(coalesce(cov.dup_tokens, 0) AS DOUBLE) / len(w.toks) END,
        |        6) AS dup_frac
        |FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id
        |ORDER BY w.doc_id""".stripMargin,

    "q61_remove_dup_spans" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS gram
        |  FROM w, UNNEST(CASE WHEN len(toks) < 5 THEN CAST([] AS BIGINT[])
        |                      ELSE range(len(toks) - 4) END) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |hits AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
        |tok AS (
        |  SELECT doc_id, i AS idx, toks[i + 1] AS tok
        |  FROM w, UNNEST(range(len(toks))) AS u(i)),
        |survivors AS (
        |  SELECT t.doc_id, t.idx, t.tok FROM tok t
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM hits h
        |    WHERE h.doc_id = t.doc_id AND t.idx BETWEEN h.pos AND h.pos + 4)),
        |cleaned AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS cleaned
        |  FROM survivors GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(c.cleaned, '') AS cleaned
        |FROM w LEFT JOIN cleaned c ON w.doc_id = c.doc_id
        |ORDER BY w.doc_id""".stripMargin,

    "q62_quality_filter" -> qualityOracleSql,

    // q79: the q62 gate's kept rows, drained through the streaming path.
    "q79_stream_quality" ->
      s"""WITH q AS ($qualityOracleSql)
        |SELECT doc_id FROM q WHERE keep ORDER BY doc_id""".stripMargin,

    // Greedy no-split packing: the oracle replays the exact per-shard greedy
    // recurrence (seq += 1 and used = tc whenever used + tc > budget, with
    // used initialized past the budget so the first doc opens sequence 0)
    // via a recursive CTE stepping one row_number per shard per level.
    // ORDER BY doc_id, md5(text) mirrors Packing's deterministic
    // duplicate-id tiebreak (both engines agree on md5's lowercase hex).
    "q63_pack_greedy" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id AS id, source AS shard,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id, md5(coalesce(text, ''))) AS rn
        |  FROM documents),
        |g AS (
        |  SELECT id, shard, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS seq_idx, n_tokens AS used
        |  FROM tok WHERE rn = 1
        |  UNION ALL
        |  SELECT t.id, t.shard, t.n_tokens, t.rn,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN g.seq_idx + 1 ELSE g.seq_idx END,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN t.n_tokens ELSE g.used + t.n_tokens END
        |  FROM g JOIN tok t ON t.shard = g.shard AND t.rn = g.rn + 1)
        |SELECT id, shard, n_tokens, seq_idx FROM g ORDER BY shard, id""".stripMargin,

    // Concat-and-chunk packing: pure running-sum arithmetic, directly
    // expressible as a window in both engines. The (id, md5(text)) window
    // order and explicit ROWS frame mirror Packing.packConcat exactly —
    // without them, duplicate ids would make cum_before either
    // peer-double-counted (RANGE default) or tie-order-dependent.
    // cum_before is CAST back to BIGINT: DuckDB's windowed sum(BIGINT)
    // returns HUGEINT, which fetchdf converts to float64, so the derived
    // start_seq/start_off/end_seq arrived driver-side as 4.0 vs Spark's 4
    // — value-equal but dtype-different, which the driver's hash rejects
    // (the r8/r9 q64 red row).
    "q64_pack_concat" ->
      """WITH w AS (
        |  SELECT doc_id AS id, source AS shard,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    md5(coalesce(text, '')) AS tb
        |  FROM documents),
        |c AS (
        |  SELECT id, shard, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id, tb
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             - n_tokens, 0) AS BIGINT) AS cum_before
        |  FROM w)
        |SELECT id, shard, n_tokens,
        |  cum_before // 128 AS start_seq,
        |  cum_before % 128 AS start_off,
        |  CASE WHEN n_tokens > 0 THEN (cum_before + n_tokens - 1) // 128
        |       ELSE cum_before // 128 END AS end_seq
        |FROM c ORDER BY shard, id""".stripMargin,

    // Resize arithmetic mirrored exactly: integer target dims
    // greatest(1, side*4 // longest) when the longest side exceeds 4, else
    // unchanged; solid-color fixtures keep their exact mean color through
    // PNG re-encode (lossless) regardless of scaling.
    "q65_image_resize" ->
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
        |FROM f ORDER BY doc_id""".stripMargin,

    // Same greedy recurrence as q63 (same duplicate-id md5 tiebreak), then
    // the sequences materialize as scan-ordered space-joined member text
    // (null text joins as ''); string_agg orders by rn, the scan order.
    "q66_pack_sequences" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id AS id, source AS shard, coalesce(text, '') AS text,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id, md5(coalesce(text, ''))) AS rn
        |  FROM documents),
        |g AS (
        |  SELECT id, shard, text, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS seq_idx, n_tokens AS used
        |  FROM tok WHERE rn = 1
        |  UNION ALL
        |  SELECT t.id, t.shard, t.text, t.n_tokens, t.rn,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN g.seq_idx + 1 ELSE g.seq_idx END,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN t.n_tokens ELSE g.used + t.n_tokens END
        |  FROM g JOIN tok t ON t.shard = g.shard AND t.rn = g.rn + 1)
        |SELECT shard, seq_idx,
        |  string_agg(text, ' ' ORDER BY rn) AS text,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM g GROUP BY shard, seq_idx ORDER BY shard, seq_idx""".stripMargin,

    // q67: regenerate the planted WAV samples from doc_id (same integer
    // formulas as `fixtureWav`) and recompute every feature exactly —
    // duration via integer division, energy/peak/crossings as integers, so
    // the comparison has no float-rounding escape hatch.
    "q67_audio_features" ->
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
        |FROM d JOIN a USING (doc_id)""".stripMargin,

    // q68: replay the planted GFV1 fixture formulas (same integer
    // arithmetic as `fixtureGfv`) for exactly the stride-2 kept frames —
    // the comparison is exact integers end to end.
    "q68_video_frames" ->
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
        |FROM f""".stripMargin,

    // q69: replay the AVI fixture formulas for the kept (even) frame
    // indices — gray survives JPEG q=1.0 exactly, so mean_r=g=b=gray.
    "q69_avi_frames" ->
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
        |FROM f""".stripMargin,

    "q33_ivf_topk" -> ivfOracleSql,
    // q104 serves the SAME search from the persisted index — the identical
    // full-pipeline replay gates it (deterministic fit ⇒ identical cells).
    "q104_ivf_from_index" -> ivfOracleSql,

    // q252: a from-scratch SQL rebuild of the post-lifecycle index — fit
    // pinned to the even-id BASE corpus, postings to exactly the
    // surviving ids — proving delete + compaction + frozen-centroid
    // ingest equals the ground-truth index of the surviving docs.
    "q252_ivf_delete_refresh" -> ivfDeleteRefreshOracleSql,

    // q256: compaction + centroid refresh + refreshed-routing ingest —
    // see [[ivfCompactRefreshOracleSql]].
    "q256_ivf_compact_refresh" -> ivfCompactRefreshOracleSql,
    "q78_cluster_assign" -> clusterOracleSql,

    // q80: float->double widening is exact and both engines round half
    // away from zero, so every quantized element replays bit-for-bit; the
    // scalar digests (len/sum/min/max/1..n-dot — see the query comment)
    // replay over those same elements. Integer digests are CAST to BIGINT:
    // DuckDB's list_sum over integers returns HUGEINT, which fetchdf turns
    // into float64 and the driver's dtype-sensitive hash then rejects
    // (the q64 lesson).
    "q80_quantize_int8" ->
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
        |FROM qq ORDER BY vec_id""".stripMargin,

    // q81: brute-force token count with threshold — the exact result the
    // sketch+confirm path must reproduce. Empty/whitespace-only texts yield
    // no tokens on the Spark side; the WHERE mirrors that (DuckDB's
    // string_split_regex('') returns [''], not []).
    "q81_heavy_hitters" ->
      """SELECT token, count(*) AS freq
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |      FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        |GROUP BY token HAVING count(*) >= 100
        |ORDER BY token""".stripMargin,

    // q82: line-level replay — doc-frequency over DISTINCT (doc, trimmed
    // line), drop lines with df > 30, rebuild in original order; docs left
    // with nothing rebuild to ''.
    "q82_boilerplate_lines" ->
      """WITH corpus AS (
        |  SELECT d1.doc_id, d1.text || chr(10) || d2.text AS text
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id % 10
        |), parts AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus
        |), lines AS (
        |  SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos,
        |         unnest(ls) AS line
        |  FROM parts
        |), freq AS (
        |  SELECT tl FROM (
        |    SELECT DISTINCT doc_id, trim(line, ' ' || chr(9)) AS tl FROM lines
        |    WHERE trim(line, ' ' || chr(9)) <> '')
        |  GROUP BY tl HAVING count(*) > 30
        |), kept AS (
        |  SELECT l.doc_id, l.pos, l.line
        |  FROM lines l LEFT JOIN freq f ON trim(l.line, ' ' || chr(9)) = f.tl
        |  WHERE f.tl IS NULL
        |)
        |SELECT c.doc_id,
        |  coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS cleaned
        |FROM corpus c LEFT JOIN kept k ON k.doc_id = c.doc_id
        |GROUP BY c.doc_id""".stripMargin,

    // q83: digest-level replay of the overlap matrix via a distinct
    // (source, digest) self-join — the quadratic shape the Spark side
    // deliberately avoids, fine as an oracle at verify scale.
    "q83_source_overlap" ->
      """WITH corpus AS (
        |  SELECT d1.doc_id, d1.source, d2.text
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id % 39
        |), d AS (
        |  SELECT DISTINCT source, md5(text) AS h FROM corpus
        |)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_contents
        |FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q84: utf8proc-based replay of the canonical form — NFC, lowercase,
    // explicit [ \t\n\r\f] whitespace class (Java \s would also eat U+000B;
    // RE2/utf8proc engines don't), space-trim of the collapsed result.
    "q84_normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |         lower(nfc_normalize('CAFE' || chr(769) || '  ' || upper(text)
        |                             || chr(9) || 'END')),
        |         '[ \t\n\r\f]+', ' ', 'g'), ' ') AS normalized
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q85: the contains() chain the automaton replaces — identical verdict,
    // quadratic shape, fine as an oracle.
    "q85_banned_phrases" ->
      """SELECT doc_id,
        |  (contains(text, 'slow scan') OR contains(text, 'fast merge')
        |   OR contains(text, 'window table') OR contains(text, 'hash join'))
        |    AS banned
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q86: pure-integer replay of the aHash pipeline from the fixture
    // formulas. Columns are vertically uniform, so per-block averages
    // reduce to per-column-block arithmetic (floor(k*a/(k*b)) = floor(a/b))
    // and the 8 row-block bytes of the hash all equal the column mask.
    "q86_image_phash_dedup" ->
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
        |FROM hashes ORDER BY doc_id""".stripMargin,

    // q87: the naive single-task global window the histogram plan avoids —
    // identical keep set by construction.
    "q87_token_budget_select" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS tc
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |), r AS (
        |  SELECT doc_id, tc,
        |    sum(tc) OVER (ORDER BY tc DESC, doc_id
        |                  ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d WHERE tc > 0
        |)
        |SELECT doc_id, tc FROM r WHERE cum <= 15000 ORDER BY doc_id""".stripMargin,

    // q88: full replay — single-pixel blocks at 8x8, per-pixel hash-noise
    // gray with the odd-parity one-pixel perturbation, packed into the
    // same %08x%08x hex, then band collision + Hamming over all pairs
    // quadratically (the shape the banded join avoids).
    "q88_image_near_dup" ->
      """WITH p AS (
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
        |  SELECT doc_id, printf('%08x%08x', hi, lo) AS ahash, hi, lo FROM hs
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
        |FROM hx a JOIN hx b ON a.doc_id < b.doc_id
        |WHERE (substring(a.ahash, 1, 4) = substring(b.ahash, 1, 4)
        |    OR substring(a.ahash, 5, 4) = substring(b.ahash, 5, 4)
        |    OR substring(a.ahash, 9, 4) = substring(b.ahash, 9, 4)
        |    OR substring(a.ahash, 13, 4) = substring(b.ahash, 13, 4))
        |  AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // q89: the naive global-order window the bucket-histogram plan avoids —
    // identical positions by construction.
    "q89_shuffle_order" ->
      """SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5('epoch0' || '|' || CAST(doc_id AS VARCHAR)), doc_id)
        |    - 1 AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q90: the plain (unsalted) join — salting must not change a single row.
    "q90_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q91: exact truth + the same deterministic degradation, metrics as
    // set counts; quotients of exact longs replay bit-for-bit.
    "q91_pair_set_eval" ->
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
        |FROM m""".stripMargin,

    // q93: fingerprint replay from the sample formulas — striped frame
    // assignment, abs-energy sums, delta bits, %08x%08x packing — then
    // band collision + Hamming over all pairs quadratically.
    "q93_audio_near_dup" ->
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
        |ORDER BY id_a, id_b""".stripMargin,

    // q95: identical epoch-aligned hourly windows + counts in batch SQL —
    // streaming state must reproduce them exactly.
    "q95_stream_trending" ->
      """SELECT
        |  make_timestamp((((1600000000 + doc_id * 60) // 3600) * 3600)
        |                 * 1000000) AS wstart,
        |  token, count(*) AS cnt
        |FROM (SELECT doc_id,
        |        unnest(string_split_regex(trim(text), '\s+')) AS token
        |      FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        |GROUP BY 1, 2 HAVING count(*) >= 100
        |ORDER BY 1, 2""".stripMargin,

    // q103: exact cross-parity Jaccard — the banded probe must find every
    // pair at the threshold.
    "q103_incremental_minhash" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks FROM documents)
        |SELECT b.doc_id AS batch_id, a.doc_id AS index_id,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |  len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        |FROM t a JOIN t b
        |  ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 AND b.doc_id < 500
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
        |ORDER BY batch_id, index_id""".stripMargin,

    // q105: the same exact cross-parity Jaccard as q103 — streaming
    // micro-batch probes must drain to the identical pair set.
    "q105_stream_index_probe" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks FROM documents)
        |SELECT b.doc_id AS batch_id, a.doc_id AS index_id,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |  len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        |FROM t a JOIN t b
        |  ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 AND b.doc_id < 500
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
        |ORDER BY batch_id, index_id""".stripMargin,

    // q106: every count replayed over the identically planted text via the
    // same explicit codepoint ranges (RE2 \x{...} spellings of the Java
    // class literals); dominant/mojibake are the same CASE over them.
    "q106_script_profile" ->
      """WITH sfx AS (
        |  SELECT doc_id, text,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'Привет мир'
        |      WHEN 1 THEN '你好世界'
        |      WHEN 2 THEN 'مرحبا بالعالم'
        |      ELSE '�' || chr(7) || '.' END AS sfx
        |  FROM documents),
        |planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 8 < 4 THEN text || ' ' || sfx ELSE sfx END AS text
        |  FROM sfx),
        |prof AS (
        |  SELECT doc_id,
        |    CAST(length(regexp_replace(text, '[^A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS INTEGER) AS latin_cnt,
        |    CAST(length(regexp_replace(text, '[^\x{0400}-\x{04FF}]', '', 'g')) AS INTEGER) AS cyrillic_cnt,
        |    CAST(length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS INTEGER) AS cjk_cnt,
        |    CAST(length(regexp_replace(text, '[^\x{0600}-\x{06FF}]', '', 'g')) AS INTEGER) AS arabic_cnt,
        |    CAST(length(regexp_replace(text, '[^ -~]', '', 'g')) AS INTEGER) AS ascii_printable_cnt,
        |    CAST(length(regexp_replace(text, '[^\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]', '', 'g')) AS INTEGER) AS control_cnt,
        |    CAST(length(regexp_replace(text, '[^\x{FFFD}]', '', 'g')) AS INTEGER) AS replacement_cnt,
        |    CAST(length(text) AS INTEGER) AS char_cnt
        |  FROM planted)
        |SELECT doc_id, latin_cnt, cyrillic_cnt, cjk_cnt, arabic_cnt,
        |  ascii_printable_cnt, control_cnt, replacement_cnt, char_cnt,
        |  CASE WHEN greatest(latin_cnt, cyrillic_cnt, cjk_cnt, arabic_cnt) = 0 THEN 'none'
        |       WHEN latin_cnt >= cyrillic_cnt AND latin_cnt >= cjk_cnt AND latin_cnt >= arabic_cnt THEN 'latin'
        |       WHEN cyrillic_cnt >= cjk_cnt AND cyrillic_cnt >= arabic_cnt THEN 'cyrillic'
        |       WHEN cjk_cnt >= arabic_cnt THEN 'cjk'
        |       ELSE 'arabic' END AS dominant_script,
        |  (replacement_cnt > 0 OR control_cnt > 0) AS mojibake
        |FROM prof""".stripMargin,

    // q133: the same deepest-ranked length>=2 top-20 term pick, then the
    // naive levenshtein scan over per-doc-distinct token frequencies.
    "q133_fuzzy_lookup" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |vocab AS (SELECT token, count(*) AS df_count FROM tok GROUP BY token),
        |allt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS v
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |freq AS (SELECT v, count(*) AS f FROM allt GROUP BY v),
        |term AS (
        |  SELECT substr(v, 2) AS q
        |  FROM (SELECT v, row_number() OVER (ORDER BY f DESC, v) AS rk FROM freq)
        |  WHERE rk <= 20 AND len(v) >= 2
        |  ORDER BY rk DESC LIMIT 1)
        |SELECT vocab.token, CAST(df_count AS BIGINT) AS df_count
        |FROM vocab, term
        |WHERE levenshtein(vocab.token, term.q) <= 1
        |ORDER BY vocab.token""".stripMargin,

    // q134: DuckDB's NATIVE ASOF JOIN is the oracle — the union-and-window
    // Spark plan must reproduce it row for row. -1 sentinels keep the
    // nullable match columns int64/float64 on both sides. q137 runs the
    // SAME join through the bucketed skew-proof operator, so the
    // identical oracle gates it (the q33/q104 convention).
    "q134_asof_join" -> asofOracleSql,
    "q137_asof_bucketed" -> asofOracleSql,

    // q143: the same top-20 rank picks (deepest and first length>=2
    // token, first/last char dropped), then the brute-force levenshtein
    // scan over the vocabulary for BOTH queries — the scan the persisted
    // deletion index exists to avoid.
    "q143_fuzzy_indexed" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |vocab AS (SELECT token, count(*) AS df_count FROM tok GROUP BY token),
        |allt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS v
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |freq AS (SELECT v, count(*) AS f FROM allt GROUP BY v),
        |el AS (
        |  SELECT v, rk
        |  FROM (SELECT v, row_number() OVER (ORDER BY f DESC, v) AS rk FROM freq)
        |  WHERE rk <= 20 AND len(v) >= 2),
        |ta AS (SELECT substr(v, 2) AS q FROM el ORDER BY rk DESC LIMIT 1),
        |tb AS (SELECT substr(v, 1, len(v) - 1) AS q FROM el ORDER BY rk ASC LIMIT 1),
        |qs AS (SELECT q FROM ta UNION ALL SELECT q FROM tb)
        |SELECT qs.q AS query, vocab.token, CAST(df_count AS BIGINT) AS df_count
        |FROM vocab, qs
        |WHERE levenshtein(vocab.token, qs.q) <= 1
        |ORDER BY query, token""".stripMargin,

    // q144: DuckDB's native ASOF with the comparison flipped — the
    // forward ("next at or after") direction, same tie-proof view
    // pre-aggregation.
    "q144_asof_forward" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |v AS (
        |  SELECT user_id, ts, max(value) AS value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |  coalesce(epoch_us(v.ts), -1) AS matched_ts,
        |  coalesce(v.value, -1.0) AS matched_value
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.ts <= v.ts
        |ORDER BY c.event_id""".stripMargin,

    // q145: backward and forward native ASOF joins combined by the
    // distance rule (ties backward) — the nearest-neighbor-in-time
    // oracle.
    "q145_asof_nearest" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |v AS (
        |  SELECT user_id, ts, max(value) AS value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        |b AS (
        |  SELECT c.event_id, epoch_us(v.ts) AS bts, v.value AS bval
        |  FROM c ASOF LEFT JOIN v
        |    ON c.user_id = v.user_id AND c.ts >= v.ts),
        |f AS (
        |  SELECT c.event_id, epoch_us(v.ts) AS fts, v.value AS fval
        |  FROM c ASOF LEFT JOIN v
        |    ON c.user_id = v.user_id AND c.ts <= v.ts)
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |  CASE WHEN b.bts IS NOT NULL AND (f.fts IS NULL
        |            OR epoch_us(c.ts) - b.bts <= f.fts - epoch_us(c.ts))
        |       THEN b.bts ELSE coalesce(f.fts, -1) END AS matched_ts,
        |  CASE WHEN b.bts IS NOT NULL AND (f.fts IS NULL
        |            OR epoch_us(c.ts) - b.bts <= f.fts - epoch_us(c.ts))
        |       THEN bval ELSE coalesce(fval, -1.0) END AS matched_value
        |FROM c
        |JOIN b ON c.event_id = b.event_id
        |JOIN f ON c.event_id = f.event_id
        |ORDER BY c.event_id""".stripMargin,

    // q152: the same vocab encoding and eight iteration CTEs — pair
    // count, (weight DESC, a, b) top-1, literal replace rewrite.
    "q152_bpe_merges" -> bpeOracleSql,

    // q150: the q46 recursive-CTE components, singletons defaulting to
    // their own id, then the q49 md5-bucket split rule keyed by the
    // CLUSTER — every cluster member shares the bucket, so leakage
    // across splits is impossible by construction.
    "q150_leakage_safe_split" ->
      """WITH RECURSIVE t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
        |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |clustered AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |b AS (
        |  SELECT doc_id, cluster,
        |    ('0x' || substr(md5(CAST(cluster AS VARCHAR) || 'seed42'), 25, 8))::BIGINT
        |      % 1000000 AS bucket
        |  FROM clustered)
        |SELECT doc_id, cluster,
        |  CASE WHEN bucket < 800000 THEN 'train'
        |       WHEN bucket < 900000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    // q151: the merged index generations must equal a from-scratch
    // index of the full corpus — so the oracle IS the q130 full-corpus
    // conjunctive query.
    "q151_incremental_index" ->
      """WITH allt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS v
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |vocab AS (SELECT v, count(*) AS f FROM allt GROUP BY v),
        |terms AS (SELECT v FROM vocab ORDER BY f DESC, v LIMIT 2 OFFSET 19),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |m AS (
        |  SELECT doc_id, count(*) AS hits
        |  FROM tok WHERE token IN (SELECT v FROM terms)
        |  GROUP BY doc_id)
        |SELECT CAST(doc_id AS BIGINT) AS id
        |FROM m WHERE hits = 2 ORDER BY id""".stripMargin,

    // q147: the same bigram/unigram count tables and the same one-ln
    // PMI seam; the (pmi DESC, bigram) total order pins the top-20.
    "q147_pmi_collocations" ->
      """WITH t AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS l
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, len(l)),
        |    i -> {'w1': l[i], 'w2': l[i + 1]})) AS p
        |  FROM t),
        |bc AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS c_xy
        |       FROM pairs GROUP BY 1, 2),
        |uc AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(l) AS w FROM t) GROUP BY w),
        |tu AS (SELECT CAST(sum(c) AS BIGINT) AS tu FROM uc),
        |tb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS tb FROM bc)
        |SELECT w1 || ' ' || w2 AS bigram, c_xy AS pair_count,
        |  CAST(round(ln((CAST(c_xy AS DOUBLE) * CAST(tu.tu AS DOUBLE) * CAST(tu.tu AS DOUBLE)) /
        |    (CAST(tb.tb AS DOUBLE) * CAST(cx.c AS DOUBLE) * CAST(cy.c AS DOUBLE))) * 1e6, 0) AS BIGINT)
        |    AS pmi_micro_nats
        |FROM bc JOIN uc cx ON bc.w1 = cx.w JOIN uc cy ON bc.w2 = cy.w, tu, tb
        |WHERE c_xy >= 5
        |ORDER BY pmi_micro_nats DESC, bigram
        |LIMIT 20""".stripMargin,

    // q148: the q146 aligned counts, the exact common-denominator rank
    // key, the same truncating per-token contribution display.
    "q148_js_contributors" ->
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
        |  SELECT c.source, c.w, a, b, ta, tb,
        |    CASE WHEN a > 0 THEN
        |      CAST(round(ln((CAST(2 AS DOUBLE) * CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)) /
        |        (CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)
        |         + CAST(b AS DOUBLE) * CAST(ta AS DOUBLE))) * 1e6, 0) AS BIGINT)
        |      ELSE 0 END AS terma,
        |    CASE WHEN b > 0 THEN
        |      CAST(round(ln((CAST(2 AS DOUBLE) * CAST(b AS DOUBLE) * CAST(ta AS DOUBLE)) /
        |        (CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)
        |         + CAST(b AS DOUBLE) * CAST(ta AS DOUBLE))) * 1e6, 0) AS BIGINT)
        |      ELSE 0 END AS termb
        |  FROM c JOIN t ON c.source = t.source
        |  WHERE ta > 0 AND tb > 0),
        |r AS (
        |  SELECT source, w, a, b,
        |    CAST(a AS HUGEINT) * terma * tb + CAST(b AS HUGEINT) * termb * ta AS ex,
        |    (CAST(a AS HUGEINT) * terma) // ta
        |      + (CAST(b AS HUGEINT) * termb) // tb AS contrib
        |  FROM j),
        |rk AS (
        |  SELECT source, w, a, b, contrib,
        |    row_number() OVER (PARTITION BY source ORDER BY ex DESC, w) AS rank
        |  FROM r)
        |SELECT source, CAST(rank AS INT) AS rank, w AS token,
        |  a AS count_a, b AS count_b,
        |  CAST(contrib AS BIGINT) AS contribution_micro_nats
        |FROM rk WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    // q149: the same (freq DESC, token) rank rule, micro-nat logs,
    // HUGEINT-exact regression sums, one truncating `//`.
    "q149_zipf_slope" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |      FROM tok GROUP BY source, w),
        |rk AS (
        |  SELECT source, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS r
        |  FROM c),
        |xy AS (
        |  SELECT source,
        |    CAST(round(ln(CAST(r AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y
        |  FROM rk WHERE r <= 100),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x * y) AS HUGEINT) AS sxy,
        |    CAST(sum(x * x) AS HUGEINT) AS sxx
        |  FROM xy GROUP BY source)
        |SELECT source, n_terms,
        |  CASE WHEN n_terms >= 2 THEN
        |    CAST(((n_terms * sxy - sx * sy) * 1000000)
        |      // (n_terms * sxx - sx * sx) AS BIGINT)
        |  END AS slope_micro
        |FROM g ORDER BY source""".stripMargin,

    // q146: the same aligned count table (FILTER replaces the full-outer
    // join), one rounded ln per (token, side) on all-double products,
    // HUGEINT-exact weighted sums CAST back, truncating `//` at every
    // seam (DuckDB `//` ≡ Spark `div`: both truncate toward zero, which
    // matters here — rounded KL sums can dip below zero).
    "q146_token_js_divergence" -> jsDivergenceOracleSql,

    // q153: counts are additive, so the drained stream's summed batches
    // equal the batch computation — the q146 oracle gates it verbatim.
    "q153_stream_drift_monitor" -> jsDivergenceOracleSql,

    // q154: tf/dl/df/N/T rebuilt from the corpus, then the IDENTICAL
    // contribution SQL the Spark plan runs (shared string), exact sums,
    // (score DESC, id) top-10.
    "q154_bm25_search" -> bm25OracleSql,

    // q244: BM25 CTEs + q97 hash-embed grid + RRF fusion, every stage
    // integer and tie-ruled — see hybridRrfOracleSql.
    "q244_hybrid_rrf" -> hybridRrfOracleSql,

    // q246: the q245 allocation CTEs + the q119 salted md5 winner rank,
    // multiplicity = alloc // n + (rank <= alloc % n), zero rows dropped.
    "q246_mixture_manifest" ->
      """WITH wt(key, w) AS (
        |  VALUES ('en', 4), ('es', 3), ('fr', 2), ('de', 1)),
        |n AS (
        |  SELECT CAST(lang AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT n.key, n.n, CAST(coalesce(wt.w, 0) AS BIGINT) AS w,
        |    n.n::HUGEINT * coalesce(wt.w, 0) AS m
        |  FROM n LEFT JOIN wt ON n.key = wt.key),
        |tot AS (SELECT sum(m) AS mt FROM m),
        |q AS (
        |  SELECT key, n, w,
        |    CASE WHEN mt > 0 THEN (10000::HUGEINT * m) // mt ELSE 0 END AS base,
        |    CASE WHEN mt > 0 THEN (10000::HUGEINT * m) % mt ELSE 0 END AS rem
        |  FROM m, tot),
        |r AS (
        |  SELECT key, n, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, key) AS rk,
        |    (SELECT CASE WHEN (SELECT mt FROM tot) > 0
        |             THEN 10000 - sum(base) ELSE 0 END FROM q) AS leftover
        |  FROM q),
        |a AS (
        |  SELECT key, n,
        |    CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |      AS alloc
        |  FROM r),
        |ranked AS (
        |  SELECT doc_id, CAST(lang AS VARCHAR) AS key,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix1'),
        |                  25, 8))::BIGINT % 1000000,
        |               doc_id) AS rnk
        |  FROM documents WHERE lang IS NOT NULL)
        |SELECT ranked.doc_id, ranked.key AS lang,
        |  CAST(a.alloc // a.n
        |    + CASE WHEN rnk <= a.alloc % a.n THEN 1 ELSE 0 END AS BIGINT)
        |    AS multiplicity
        |FROM ranked JOIN a ON ranked.key = a.key
        |WHERE a.alloc // a.n + CASE WHEN rnk <= a.alloc % a.n THEN 1 ELSE 0 END > 0
        |ORDER BY lang, doc_id""".stripMargin,

    // q250: the q246 manifest CTEs at the 2,000-slot budget, lateral
    // generate_series instance expansion, the q126 greedy-packing
    // recursion per language, and the md5 epoch-shuffle rank.
    "q250_mixture_epoch_plan" ->
      s"""$epochPlanPackOracleCtes,
        |seqs AS (
        |  SELECT shard, seq_idx, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
        |  FROM g GROUP BY shard, seq_idx),
        |r AS (
        |  SELECT shard, seq_idx, n_docs, seq_tokens,
        |    row_number() OVER (ORDER BY
        |      md5('mixep0' || '|' || shard || '#' || CAST(seq_idx AS VARCHAR)),
        |      shard || '#' || CAST(seq_idx AS VARCHAR)) - 1 AS shuffle_pos
        |  FROM seqs)
        |SELECT shard, CAST(seq_idx AS BIGINT) AS seq_idx, n_docs, seq_tokens,
        |  CAST(shuffle_pos AS BIGINT) AS shuffle_pos
        |FROM r ORDER BY shard, seq_idx""".stripMargin,

    // q253: the same packing replay at the instance grain; tok_offset
    // is the recursive cursor before admission (used - n_tokens).
    "q253_epoch_plan_instances" ->
      s"""$epochPlanPackOracleCtes
        |SELECT CAST(id AS BIGINT) AS inst_id, shard,
        |  CAST(seq_idx AS BIGINT) AS seq_idx,
        |  CAST(used - n_tokens AS BIGINT) AS tok_offset, n_tokens
        |FROM g ORDER BY shard, seq_idx, tok_offset""".stripMargin,

    // q245: the weighted Hamilton replay in HUGEINT arithmetic — weighted
    // masses n·w, floor quotas, largest-remainder top-ups with key-asc
    // ties, zero-weight strata reported with alloc 0.
    "q245_weighted_mixture" ->
      """WITH wt(key, w) AS (
        |  VALUES ('en', 4), ('es', 3), ('fr', 2), ('de', 1)),
        |n AS (
        |  SELECT CAST(lang AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT n.key, n.n, CAST(coalesce(wt.w, 0) AS BIGINT) AS w,
        |    n.n::HUGEINT * coalesce(wt.w, 0) AS m
        |  FROM n LEFT JOIN wt ON n.key = wt.key),
        |tot AS (SELECT sum(m) AS mt FROM m),
        |q AS (
        |  SELECT key, n, w,
        |    CASE WHEN mt > 0 THEN (10000::HUGEINT * m) // mt ELSE 0 END AS base,
        |    CASE WHEN mt > 0 THEN (10000::HUGEINT * m) % mt ELSE 0 END AS rem
        |  FROM m, tot),
        |r AS (
        |  SELECT key, n, w, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, key) AS rk,
        |    (SELECT CASE WHEN (SELECT mt FROM tot) > 0
        |             THEN 10000 - sum(base) ELSE 0 END FROM q) AS leftover
        |  FROM q)
        |SELECT key, n, w,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM r ORDER BY key""".stripMargin,

    // q155: the q136 planted graph, md5-derived registers, three
    // register-max iteration CTEs, then the IDENTICAL estimator SQL the
    // Spark plan runs (shared string).
    "q155_hyperball" -> hyperBallOracleSql,

    // q156: the q136 iteration CTEs with the base term made
    // seed-conditional (teleport returns to the source nodes only).
    // q172: the same rank-18..21 pick and a >= 1 OR gate with counts.
    "q172_disjunctive_search" ->
      """WITH allt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS v
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |vocab AS (SELECT v, count(*) AS f FROM allt GROUP BY v),
        |terms AS (SELECT v FROM vocab ORDER BY f DESC, v LIMIT 4 OFFSET 17),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0)
        |SELECT CAST(doc_id AS BIGINT) AS id, CAST(count(*) AS BIGINT) AS n_matched
        |FROM tok WHERE token IN (SELECT v FROM terms)
        |GROUP BY doc_id ORDER BY id""".stripMargin,

    // q173: both terms' positions by ordinal scan, the same |delta| <= 3
    // join and per-doc min.
    "q173_proximity_search" ->
      """WITH allt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS v
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |vocab AS (SELECT v, count(*) AS f FROM allt GROUP BY v),
        |ta AS (SELECT v FROM vocab ORDER BY f DESC, v LIMIT 1 OFFSET 0),
        |tb AS (SELECT v FROM vocab ORDER BY f DESC, v LIMIT 1 OFFSET 1),
        |pos AS (
        |  SELECT doc_id, l[i] AS token, CAST(i - 1 AS BIGINT) AS pos
        |  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
        |        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        |              FROM documents
        |              WHERE text IS NOT NULL AND len(trim(text)) > 0))),
        |a AS (SELECT doc_id, pos FROM pos WHERE token = (SELECT v FROM ta)),
        |b AS (SELECT doc_id, pos FROM pos WHERE token = (SELECT v FROM tb))
        |SELECT CAST(a.doc_id AS BIGINT) AS id,
        |  CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_distance
        |FROM a JOIN b ON a.doc_id = b.doc_id AND abs(a.pos - b.pos) <= 3
        |GROUP BY a.doc_id ORDER BY id""".stripMargin,

    // q174: the same micro quantization, truncating-div centroids, exact
    // L1 sums, and the q92 rank-permille rule.
    // q175: same canonicalization (undirected simple), same
    // (degree, node) total order for orientation, same wedge + closing
    // join — the oracle IS the degree-ordered algorithm in SQL, so it
    // stays O(m^{3/2}) too.
    "q175_triangle_counts" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |raw AS (
        |  SELECT id AS src, id + 1 AS dst FROM ids WHERE (id + 1) // 10 = id // 10
        |  UNION ALL
        |  SELECT id, id + 2 FROM ids WHERE (id + 2) // 10 = id // 10
        |  UNION ALL
        |  SELECT id, (id // 100) * 100 FROM ids WHERE id % 100 <> 0),
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
        |ORDER BY node""".stripMargin,

    // q176: the two-step rightmost-min replay (windowed min + bounded
    // range self-join) of Spark's one-pass min(struct(hash, -pos)).
    "q176_winnow_fingerprints" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |tok3 AS (SELECT doc_id, toks, len(toks) AS nt FROM tok
        |         WHERE len(toks) >= 3),
        |g AS (SELECT doc_id, nt - 2 AS gn,
        |        unnest(range(1, nt - 1)) AS pos, toks
        |      FROM tok3),
        |gh AS (SELECT doc_id, gn, CAST(pos AS INT) AS pos,
        |        ('0x' || substr(md5(array_to_string(toks[pos:pos+2], ' ')), 1, 15))::BIGINT AS h
        |       FROM g),
        |wm AS (SELECT doc_id, gn, pos, h,
        |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |       FROM gh),
        |st AS (SELECT doc_id, pos, wmin FROM wm
        |       WHERE pos <= greatest(1, gn - 3)),
        |sel AS (SELECT s.doc_id, max(g2.pos) AS pos, s.wmin AS fp
        |        FROM st s JOIN gh g2 ON g2.doc_id = s.doc_id
        |          AND g2.pos BETWEEN s.pos AND s.pos + 3 AND g2.h = s.wmin
        |        GROUP BY s.doc_id, s.pos, s.wmin)
        |SELECT DISTINCT doc_id, pos, fp FROM sel
        |ORDER BY doc_id, pos""".stripMargin,

    // q177: same winnowed sets, doc-frequency cap, fingerprint equi-join.
    "q177_winnow_overlap" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |tok3 AS (SELECT doc_id, toks, len(toks) AS nt FROM tok
        |         WHERE len(toks) >= 3),
        |g AS (SELECT doc_id, nt - 2 AS gn,
        |        unnest(range(1, nt - 1)) AS pos, toks
        |      FROM tok3),
        |gh AS (SELECT doc_id, gn, CAST(pos AS INT) AS pos,
        |        ('0x' || substr(md5(array_to_string(toks[pos:pos+2], ' ')), 1, 15))::BIGINT AS h
        |       FROM g),
        |wm AS (SELECT doc_id, gn, pos, h,
        |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |       FROM gh),
        |st AS (SELECT doc_id, pos, wmin FROM wm
        |       WHERE pos <= greatest(1, gn - 3)),
        |fps AS (SELECT DISTINCT doc_id, wmin AS fp FROM st),
        |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
        |kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS shared_fps
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // q178: the estimates replay exactly — same md5("r:token") mod 1024
    // buckets, same min-over-4-rows lookup.
    "q178_cms_frequencies" ->
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
        |ORDER BY token""".stripMargin,

    // q179: same typo rule, same brand blocks, DuckDB's levenshtein is
    // the same classic DP distance, same (candidacy, distance, id)
    // null-ranked tie-break.
    "q179_record_linkage" ->
      """WITH dirty AS (
        |  SELECT p_partkey AS import_id, p_brand,
        |    CASE WHEN p_partkey % 3 = 0 OR len(p_name) <= 1 THEN p_name
        |         ELSE substr(p_name, 1, CAST(p_partkey % len(p_name) AS INT))
        |              || substr(p_name, CAST(p_partkey % len(p_name) AS INT) + 2)
        |    END AS dname
        |  FROM part),
        |sc AS (
        |  SELECT d.import_id, d.p_brand, d.dname,
        |    c.p_partkey AS cid, c.p_name AS cname,
        |    levenshtein(d.dname, c.p_name) AS dist
        |  FROM dirty d LEFT JOIN part c ON c.p_brand = d.p_brand),
        |rk AS (
        |  SELECT *, (dist IS NOT NULL AND dist <= 2) AS cand,
        |    row_number() OVER (PARTITION BY import_id
        |      ORDER BY (dist IS NOT NULL AND dist <= 2) DESC,
        |        (dist IS NULL), dist, (cid IS NULL), cid) AS rn
        |  FROM sc)
        |SELECT import_id, p_brand, dname AS dirty_name,
        |  CASE WHEN cand THEN cid END AS matched_id,
        |  CASE WHEN cand THEN cname END AS matched_name,
        |  CASE WHEN cand THEN dist END AS distance
        |FROM rk WHERE rn = 1
        |ORDER BY import_id""".stripMargin,

    // q180: same hourly buckets (epoch-hour ints), same planted spike,
    // same trailing-24 ROWS frame, same integer z² test (HUGEINT for the
    // quadratic terms = Spark's DECIMAL(38,0)).
    "q180_rolling_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hb,
        |    CAST(count(*) AS BIGINT) AS raw
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, hb,
        |        raw * (CASE WHEN hb % 101 = 0 THEN 12 ELSE 1 END) AS cnt
        |      FROM hourly),
        |w AS (SELECT event_type, hb, cnt,
        |        CAST(count(cnt) OVER win AS BIGINT) AS history_n,
        |        CAST(coalesce(sum(cnt) OVER win, 0) AS BIGINT) AS s1,
        |        coalesce(sum(CAST(cnt AS HUGEINT) * cnt) OVER win, 0) AS s2
        |      FROM b
        |      WINDOW win AS (PARTITION BY event_type ORDER BY hb
        |        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |f AS (SELECT event_type, hb, cnt, history_n,
        |        CASE WHEN history_n > 0 THEN (s1 * 1000) // history_n END AS mean_milli,
        |        CASE WHEN history_n < 6 THEN FALSE
        |             WHEN CAST(history_n AS HUGEINT) * s2 = CAST(s1 AS HUGEINT) * s1
        |               THEN cnt * history_n <> s1
        |             ELSE CAST(cnt * history_n - s1 AS HUGEINT)
        |                    * (cnt * history_n - s1) * 1000000
        |                  > 9000000 * (CAST(history_n AS HUGEINT) * s2
        |                               - CAST(s1 AS HUGEINT) * s1)
        |        END AS is_anomaly,
        |        cnt * history_n - s1 AS dev
        |      FROM w)
        |SELECT event_type, hb, cnt, history_n, mean_milli, is_anomaly,
        |  CAST(CASE WHEN NOT is_anomaly THEN 0
        |            WHEN dev > 0 THEN 1 ELSE -1 END AS INT) AS direction
        |FROM f ORDER BY event_type, hb""".stripMargin,

    // q181: same width-scaling, the interleave terms generated by the
    // SAME Scala helper shape, same equal-width z buckets.
    "q181_zorder_extents" ->
      s"""WITH m AS (SELECT max(l_partkey) AS xm, max(l_suppkey) AS ym
        |           FROM lineitem),
        |s AS (SELECT (l_partkey * 256) // (xm + 1) AS xb,
        |             (l_suppkey * 256) // (ym + 1) AS yb
        |      FROM lineitem, m),
        |z AS (SELECT xb, yb, ${zInterleaveSql("xb", "yb", 8)} AS zv FROM s)
        |SELECT (zv * 64) // 65536 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(xb) AS x_min, max(xb) AS x_max,
        |  min(yb) AS y_min, max(yb) AS y_max
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,

    // q182: the q113 stored-model chain (retrained in SQL — the stored
    // table provably equals a recompute), then the q92 rank window per
    // source and the tercile CASE. NULLS FIRST matches Spark's
    // asc_nulls_first default: un-scoreable docs land in the tail.
    "q182_ppl_buckets" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS c1
        |  FROM (SELECT unnest(toks) AS w FROM tk WHERE doc_id % 2 = 0) GROUP BY w),
        |v AS (SELECT count(*) AS v FROM uni),
        |occ_t AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM tk WHERE doc_id % 2 = 0 AND len(toks) >= 2),
        |bi AS (SELECT bg, count(*) AS c2 FROM occ_t GROUP BY bg),
        |bscore AS (
        |  SELECT bg,
        |    CAST(round(ln((c2 + 1) / CAST(c1 + v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS t_bg
        |  FROM bi JOIN uni ON uni.w = split_part(bi.bg, ' ', 1) CROSS JOIN v),
        |uscore AS (
        |  SELECT w,
        |    CAST(round(ln(1.0 / CAST(c1 + v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS t_w1
        |  FROM uni CROSS JOIN v),
        |dflt AS (
        |  SELECT CAST(round(ln(1.0 / CAST(v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS t_def
        |  FROM v),
        |pocc AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM tk WHERE doc_id % 2 = 1 AND len(toks) >= 2),
        |terms AS (
        |  SELECT p.doc_id, coalesce(b.t_bg, u.t_w1, d.t_def) AS t
        |  FROM pocc p
        |  LEFT JOIN bscore b USING (bg)
        |  LEFT JOIN uscore u ON u.w = split_part(p.bg, ' ', 1)
        |  CROSS JOIN dflt d),
        |doc AS (
        |  SELECT doc_id, CAST(sum(t) // count(*) AS BIGINT) AS lm
        |  FROM terms GROUP BY doc_id),
        |scored AS (
        |  SELECT t.doc_id, t.source, doc.lm AS lm_score_micronats
        |  FROM tk t LEFT JOIN doc ON doc.doc_id = t.doc_id
        |  WHERE t.doc_id % 2 = 1),
        |ranked AS (
        |  SELECT doc_id, source, lm_score_micronats,
        |    ((rank() OVER (PARTITION BY source
        |        ORDER BY lm_score_micronats NULLS FIRST) - 1) * 1000)
        |      // greatest(count(*) OVER (PARTITION BY source) - 1, 1)
        |      AS score_permille
        |  FROM scored)
        |SELECT doc_id, source, lm_score_micronats,
        |  CAST(score_permille AS BIGINT) AS score_permille,
        |  CASE WHEN score_permille >= 667 THEN 'head'
        |       WHEN score_permille >= 334 THEN 'middle'
        |       ELSE 'tail' END AS band
        |FROM ranked ORDER BY doc_id""".stripMargin,

    // q183: micro quantization, the q112 histogram median twice (value,
    // then |x − med|), and the cross-multiplied integer MAD inequality
    // (3 · 14826 = 44478).
    "q183_mad_outliers" ->
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
        |ORDER BY event_id""".stripMargin,

    // q184: the md5-derived sparse sign matrix (mod-6 on the q49 hex
    // window), 0-based dims (p.i − 1 aligns DuckDB's 1-based lambda
    // index with posexplode), exact integer micro sums.
    "q184_random_projection" ->
      """WITH cells AS (
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
        |    unnest(list_transform(embedding, (x, i) -> {'x': x, 'i': i})) AS t(p))
        |SELECT r.vec_id, CAST(nz.k AS BIGINT) AS k,
        |  CAST(sum(nz.sign * r.q) AS BIGINT) AS proj_micro
        |FROM r JOIN nz ON r.dim = nz.dim
        |GROUP BY 1, 2 ORDER BY vec_id, k""".stripMargin,

    // q185: the drained cross-batch dedup state must equal the batch
    // DISTINCT digest set — the whole point of the gate.
    "q185_stream_dedup_ledger" ->
      """SELECT DISTINCT md5(coalesce(text, '')) AS digest
        |FROM documents ORDER BY digest""".stripMargin,

    // q186: the q155 register derivation applied to token values, the
    // SAME shared estimator SQL, and the exact distinct beside it.
    "q186_hll_distinct" ->
      s"""WITH tok AS (
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
        |  FROM agg),
        |ex AS (
        |  SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS n_exact
        |  FROM tok GROUP BY source)
        |SELECT est.source, ex.n_exact, est.registers_set,
        |  ${graft.pipeline.Graph.hllEstimateSql} AS est_micro
        |FROM est JOIN ex USING (source) ORDER BY source""".stripMargin,

    // q187: the q184 projection CTEs, per-vector lists ordered by k,
    // integer L2 with the same div-256 coarse seam and id tie-break,
    // then the q166 cosine re-rank rule.
    "q187_projected_ann" ->
      """WITH cells AS (
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
        |    unnest(list_transform(embedding, (x, i) -> {'x': x, 'i': i})) AS t(p)),
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
        |ORDER BY query_id, rank""".stripMargin,

    // q191: the same two windows — null-safe no-op collapse, then
    // lead(ts) over the kept rows.
    "q191_scd2_intervals" -> scd2OracleSql,

    // q216: the SAME full-feed rebuild — what the incremental merge of
    // (stored < Jan 15) + (batch >= Jan 15) must equal exactly.
    "q216_scd2_merge" -> scd2OracleSql,

    "q192_kcore" -> kCoreOracleSql(3, 4),

    "q199_textrank_keywords" -> textRankOracleSql,

    // q198: the same per-user lag chain and truncating row-share.
    "q198_event_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, event_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n_steps
        |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_steps,
        |  CAST(n_steps * 1000 // sum(n_steps)
        |    OVER (PARTITION BY from_type) AS BIGINT) AS p_permille
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    // q195: the q112 histogram cuts at 50/950 permille + integer clamp.
    "q195_winsorize" ->
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
        |ORDER BY event_id""".stripMargin,

    // q196: the q187 approximate path and the q27 exact path replayed
    // side by side; recall is the exact integer intersection share.
    "q196_ann_recall" ->
      """WITH cells AS (
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
        |    unnest(list_transform(embedding, (x, i) -> {'x': x, 'i': i})) AS t(p)),
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
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,

    // q197: register merge is invisible to the estimator — the oracle is
    // simply the full-corpus register build + the shared estimator SQL.
    "q197_hll_merge" ->
      s"""WITH tok AS (
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
        |  FROM agg)
        |SELECT source, registers_set,
        |  ${graft.pipeline.Graph.hllEstimateSql} AS est_micro
        |FROM est ORDER BY source""".stripMargin,

    // q194: the upserted table must hold exactly the latest change per
    // key — argmax by (ts, event_id), the struct-max rule.
    "q194_stream_upsert" ->
      """WITH ch AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    ((CAST(round(value * 1e6) AS BIGINT) % 5) + 5) % 5 AS tier
        |  FROM events WHERE event_type = 'signup'),
        |r AS (
        |  SELECT user_id, ts_us, event_id, tier,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM ch)
        |SELECT user_id, ts_us, event_id, tier
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // q193: the q191 interval build + the containment lookup, with the
    // open (null valid_to) interval handled the same way.
    "q193_scd2_lookup" ->
      """WITH ch AS (
        |  SELECT user_id, ts, event_id,
        |    ((CAST(round(value * 1e6) AS BIGINT) % 5) + 5) % 5 AS tier
        |  FROM events WHERE event_type = 'signup'),
        |f AS (
        |  SELECT user_id, ts, event_id, tier,
        |    row_number() OVER w AS rn,
        |    lag(tier) OVER w AS prev
        |  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |k AS (SELECT user_id, ts, event_id, tier FROM f
        |      WHERE rn = 1 OR tier IS DISTINCT FROM prev),
        |dim AS (
        |  SELECT user_id, tier, ts AS valid_from,
        |    lead(ts) OVER w2 AS valid_to
        |  FROM k WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |  dim.tier
        |FROM events p
        |LEFT JOIN dim ON dim.user_id = p.user_id
        |  AND p.ts >= dim.valid_from
        |  AND (dim.valid_to IS NULL OR p.ts < dim.valid_to)
        |WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,

    // q188: the drained stream-stream join must equal the batch range
    // join — inner join + full-span watermark is batch-boundary-
    // independent by construction.
    "q188_stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  CAST(c.user_id AS BIGINT) AS user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,

    // q189: the q109 string-gram replay with first-occurrence (min doc)
    // attribution — equals the hashed-gram plan absent a 64-bit
    // collision.
    "q189_ngram_novelty" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks) - 4),
        |                i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
        |    END) AS gram
        |  FROM w),
        |f AS (SELECT gram, min(doc_id) AS fd FROM g GROUP BY gram),
        |cnt AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |      AS novel_grams
        |  FROM g JOIN f USING (gram) GROUP BY g.doc_id)
        |SELECT d.doc_id,
        |  coalesce(c.n_grams, 0) AS n_grams,
        |  coalesce(c.novel_grams, 0) AS novel_grams,
        |  CASE WHEN c.n_grams IS NULL THEN NULL
        |       ELSE CAST(c.novel_grams * 1000 // c.n_grams AS BIGINT) END
        |    AS novelty_permille
        |FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // q190: reference-decile cuts by the q112 histogram rule, +1
    // smoothed counts, the exact cross-multiplied integer PSI with one
    // micro-nat ln per bin.
    "q190_psi_drift" ->
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
        |FROM t2 GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q174_prototypicality" ->
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
        |ORDER BY dist.id""".stripMargin,

    // q168: the same count table, bounded (count DESC, key) top-10, and
    // truncating permille arithmetic.
    "q168_key_concentration" ->
      """WITH c AS (
        |  SELECT CAST(event_type AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(max(c) AS BIGINT) AS mx
        |  FROM c),
        |top AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS topsum
        |  FROM (SELECT c FROM c ORDER BY c DESC, k LIMIT 10))
        |SELECT n_rows, n_keys,
        |  mx * 1000 // n_rows AS top1_permille,
        |  topsum * 1000 // n_rows AS top10_permille,
        |  CAST(CAST(mx AS HUGEINT) * n_keys * 1000 // n_rows AS BIGINT)
        |    AS max_over_mean_permille
        |FROM tot, top""".stripMargin,

    // q169: the same key planting (null rule wins over the orphan rule),
    // distinct parent keys, NOT IN orphan counts.
    "q169_fk_integrity" ->
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
        |SELECT * FROM base, o""".stripMargin,

    // q170: the same per-user arrival-order lag window in exact micros.
    "q170_event_lateness" ->
      """WITH l AS (
        |  SELECT epoch_us(ts) AS tsu,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND tsu < prev THEN 1 ELSE 0 END) AS BIGINT) AS inversions,
        |  CAST(coalesce(max(CASE WHEN prev IS NOT NULL AND tsu < prev
        |    THEN prev - tsu END), 0) AS BIGINT) AS max_backstep_us,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND tsu < prev THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000 // CAST(count(*) AS BIGINT) AS inversion_permille
        |FROM l""".stripMargin,

    // q165: the same planted corruption families (1-based lambda index
    // in DuckDB vs 0-based in Spark) and the same severity-ordered
    // first-match-wins CASE.
    "q165_embedding_hygiene" ->
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
        |FROM verdicts GROUP BY 1 ORDER BY 1""".stripMargin,

    // q166: the q80 quantization CTEs, an exact BIGINT coarse dot with
    // (dot DESC, id) rank-20 cut, then float-cosine re-rank to top-5 —
    // stage-for-stage the Spark plan.
    "q166_quantized_rerank" -> quantizedRerankOracleSql,

    // q200: serving from the STORED code table must equal the on-the-fly
    // quantized path exactly — deterministic quantization, same oracle.
    "q200_ann_from_codes" -> quantizedRerankOracleSql,

    // q201: the identical planted page and the identical strip chain —
    // both SQL strings are shared verbatim with the Spark side.
    "q201_markup_strip" ->
      s"""SELECT doc_id, ${stripMarkupSql(markupFixtureSql)} AS clean_text
         |FROM documents ORDER BY doc_id""".stripMargin,

    // q204: the full Lloyd recurrence as iteration CTEs — md5-seeded
    // init, integer L2 argmin with (d2, cluster) ties, truncating-div
    // centroid updates with empty-cluster carry, final assignment
    // against the post-update centroids.
    "q204_kmeans_lloyd" -> lloydAssignOracleSql,

    // q228: the stored-model serve path must equal the q204 recompute
    // exactly — deterministic integers make the model storable at all.
    "q228_kmeans_serve" -> lloydAssignOracleSql,

    // q231: the same plants, positional chars, micro-nat terms, DECIMAL
    // sum, truncating division.
    // q233/q234: the NB fit replay (nbOracleCtes) — q233 reads the model
    // table itself, q234 scores every document against it; the stored
    // model can never drift from this SQL because both are integer
    // micro-nats from the same expressions.
    "q233_nb_train" ->
      s"""WITH $nbOracleCtes
        |SELECT bucket, c_pos, c_neg, llr_micro FROM w
        |UNION ALL SELECT bucket, c_pos, c_neg, llr_micro FROM pr
        |UNION ALL SELECT CAST(-2 AS INTEGER), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(64 AS BIGINT)
        |ORDER BY bucket""".stripMargin,

    "q234_nb_score" ->
      s"""WITH $nbOracleCtes,
        |occ AS (
        |  SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket
        |  FROM (SELECT doc_id,
        |      unnest(string_split_regex(trim(text), '\\s+')) AS token
        |    FROM documents WHERE text IS NOT NULL AND trim(text) <> '')),
        |ds AS (
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
        |FROM documents d LEFT JOIN ds USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q241: k/l-safe classes via HAVING, then the released distinct
    // (class, md5-pseudonym) rows — the pseudonymization expression
    // replayed verbatim.
    "q241_release_prep" ->
      """WITH cls AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS db
        |  FROM events GROUP BY 1, 2
        |  HAVING count(*) >= 50 AND count(DISTINCT user_id) >= 50)
        |SELECT DISTINCT e.event_type AS event_type,
        |  epoch_us(e.ts) // 86400000000 AS db,
        |  md5('rel1|' || CAST(e.user_id AS VARCHAR)) AS pseudo_uid
        |FROM events e JOIN cls ON e.event_type = cls.event_type
        |  AND epoch_us(e.ts) // 86400000000 = cls.db
        |ORDER BY e.event_type, db, pseudo_uid""".stripMargin,

    // q240: q234's fit+score replay restricted to the streamed odd-id
    // half — the drained micro-batch scores must equal the batch score.
    "q240_stream_nb_score" ->
      s"""WITH $nbOracleCtes,
        |occ AS (
        |  SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket
        |  FROM (SELECT doc_id,
        |      unnest(string_split_regex(trim(text), '\\s+')) AS token
        |    FROM documents
        |    WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 2 = 1)),
        |ds AS (
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
        |FROM documents d LEFT JOIN ds USING (doc_id)
        |WHERE d.doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,

    // q247: the q239 fit CTEs with the STREAMED half (odd ids, text
    // unchanged) as the batch — streaming serve of the frozen λ table is
    // stateless and map-side, so drained == this batch replay.
    "q247_stream_dsir_score" ->
      s"""WITH b AS (
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
        |    CAST(coalesce(sum(c_r), 0) AS BIGINT) AS n_r FROM cnt),
        |lam AS (
        |  SELECT CAST(g.bucket AS INTEGER) AS bucket,
        |    CAST(round((ln((coalesce(c.c_t, 0) + 1) /
        |        CAST(t.n_t + 256 AS DOUBLE)) -
        |      ln((coalesce(c.c_r, 0) + 1) /
        |        CAST(t.n_r + 256 AS DOUBLE))) * 1e6, 0) AS BIGINT)
        |      AS lambda_micro
        |  FROM (SELECT unnest(range(256)) AS bucket) g
        |  LEFT JOIN cnt c ON c.bucket = g.bucket CROSS JOIN tot t),
        |bb AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents
        |  WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 2 = 1),
        |bocc AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(bg), 1, 8))::BIGINT % 256 AS bucket
        |  FROM (SELECT doc_id,
        |      unnest(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |    FROM bb WHERE len(toks) >= 2)),
        |ds AS (
        |  SELECT bocc.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(lambda_micro) AS BIGINT) AS dsir_micro
        |  FROM bocc JOIN lam USING (bucket) GROUP BY bocc.doc_id)
        |SELECT d.doc_id,
        |  coalesce(ds.n_bigrams, 0) AS n_bigrams,
        |  coalesce(ds.dsir_micro, 0) AS dsir_micro,
        |  CASE WHEN coalesce(ds.n_bigrams, 0) > 0
        |    THEN ds.dsir_micro // ds.n_bigrams END AS dsir_mean_micro
        |FROM documents d LEFT JOIN ds USING (doc_id)
        |WHERE d.doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,

    // q239: the stored-λ serve replay — the q235 fit arithmetic over the
    // FULL corpus but with the DENSE grid (unseen batch bigrams score
    // through smoothed weights), then the fresh batch (every 5th doc +
    // novel tail) scored against it.
    "q239_dsir_serve" ->
      s"""WITH b AS (
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
        |    CAST(coalesce(sum(c_r), 0) AS BIGINT) AS n_r FROM cnt),
        |lam AS (
        |  SELECT CAST(g.bucket AS INTEGER) AS bucket,
        |    CAST(round((ln((coalesce(c.c_t, 0) + 1) /
        |        CAST(t.n_t + 256 AS DOUBLE)) -
        |      ln((coalesce(c.c_r, 0) + 1) /
        |        CAST(t.n_r + 256 AS DOUBLE))) * 1e6, 0) AS BIGINT)
        |      AS lambda_micro
        |  FROM (SELECT unnest(range(256)) AS bucket) g
        |  LEFT JOIN cnt c ON c.bucket = g.bucket CROSS JOIN tot t),
        |batch AS (
        |  SELECT doc_id,
        |    text || ' zq' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE doc_id % 5 = 0),
        |bb AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM batch WHERE text IS NOT NULL AND trim(text) <> ''),
        |bocc AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(bg), 1, 8))::BIGINT % 256 AS bucket
        |  FROM (SELECT doc_id,
        |      unnest(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |    FROM bb WHERE len(toks) >= 2)),
        |ds AS (
        |  SELECT bocc.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(lambda_micro) AS BIGINT) AS dsir_micro
        |  FROM bocc JOIN lam USING (bucket) GROUP BY bocc.doc_id)
        |SELECT b2.doc_id,
        |  coalesce(ds.n_bigrams, 0) AS n_bigrams,
        |  coalesce(ds.dsir_micro, 0) AS dsir_micro,
        |  CASE WHEN coalesce(ds.n_bigrams, 0) > 0
        |    THEN ds.dsir_micro // ds.n_bigrams END AS dsir_mean_micro
        |FROM batch b2 LEFT JOIN ds USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q235: the DSIR replay — hashed-bigram λ table (256 buckets, one
    // ln() per bucket), per-doc mean importance, then q87's naive
    // global-window budget selection (the shape the histogram-boundary
    // operator provably equals — with the boundary prefix itself
    // range-bin sharded, so the near-distinct micro-nat means never
    // funnel the histogram through one task).
    "q235_dsir_select" ->
      s"""WITH b AS (
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
        |    CAST(coalesce(sum(c_r), 0) AS BIGINT) AS n_r FROM cnt),
        |lam AS (
        |  SELECT bucket,
        |    CAST(round((ln((c_t + 1) / CAST(n_t + 256 AS DOUBLE)) -
        |      ln((c_r + 1) / CAST(n_r + 256 AS DOUBLE))) * 1e6, 0)
        |      AS BIGINT) AS lambda_micro
        |  FROM cnt CROSS JOIN tot),
        |doc AS (
        |  SELECT occ.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(lambda_micro) AS BIGINT) AS dsir_micro
        |  FROM occ JOIN lam USING (bucket) GROUP BY occ.doc_id),
        |sc AS (
        |  SELECT d.doc_id, doc.dsir_micro // doc.n_bigrams AS dsir_mean_micro,
        |    len(string_split_regex(trim(d.text), '\\s+')) AS tc
        |  FROM documents d JOIN doc USING (doc_id)),
        |r AS (
        |  SELECT doc_id, dsir_mean_micro, tc,
        |    sum(tc) OVER (ORDER BY dsir_mean_micro DESC, doc_id
        |                  ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM sc)
        |SELECT doc_id, dsir_mean_micro, CAST(tc AS INTEGER) AS tc
        |FROM r WHERE cum <= 20000 ORDER BY doc_id""".stripMargin,

    "q236_k_anonymity" ->
      """SELECT event_type, epoch_us(ts) // 86400000000 AS db,
        |  count(*) AS class_size,
        |  count(DISTINCT user_id) AS distinct_sensitive,
        |  CASE WHEN count(*) < 50 THEN 1 ELSE 0 END AS violates_k,
        |  CASE WHEN count(DISTINCT user_id) < 50 THEN 1 ELSE 0 END AS violates_l
        |FROM events GROUP BY event_type, db
        |ORDER BY event_type, db""".stripMargin,

    "q231_char_entropy" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0
        |      THEN md5(CAST(doc_id AS VARCHAR) || 'g0') ||
        |           md5(CAST(doc_id AS VARCHAR) || 'g1') ||
        |           md5(CAST(doc_id AS VARCHAR) || 'g2')
        |      ELSE coalesce(text, '') END AS text
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, substr(text, i, 1) AS ch
        |  FROM p, unnest(range(1, len(text) + 1)) AS t(i)
        |  WHERE len(text) > 0),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |tot AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
        |    CAST(count(*) AS BIGINT) AS distinct_chars
        |  FROM c GROUP BY doc_id)
        |SELECT c.doc_id, max(tot.n_chars) AS n_chars,
        |  max(tot.distinct_chars) AS distinct_chars,
        |  CAST(sum(CAST(c.c AS HUGEINT) *
        |      CAST(round(ln(CAST(tot.n_chars AS DOUBLE) / c.c) * 1e6, 0)
        |        AS BIGINT))
        |    // max(tot.n_chars) AS BIGINT) AS entropy_micro_nats
        |FROM c JOIN tot USING (doc_id)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // q230: the SAME driver-computed weight table interpolated into both
    // engines' lag chains; the hourly mean replays the identical
    // truncating-mean → /1e6 → requantize double chain.
    "q230_ewma_smooth" -> ewmaOracleSql,

    // q232: the composed retrieval lifecycle — chunk → hash-embed →
    // Lloyd IVF → probe stored cells → exact-hit flag, all from the
    // shared fragments (see retrievalLifecycleOracleSql).
    "q232_retrieval_lifecycle" -> retrievalLifecycleOracleSql,

    // q229: the same per-shard digests and argmax, folded per doc.
    "q229_rendezvous_routing" ->
      """WITH w AS (
        |  SELECT doc_id, sh,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || sh), 1, 15))::BIGINT AS wt
        |  FROM documents, unnest(['s0','s1','s2','s3','s4']) AS t(sh)),
        |a AS (
        |  SELECT doc_id, sh AS shard FROM (
        |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY wt DESC, sh DESC) AS rk
        |    FROM w) WHERE rk = 1)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin,

    // q225: the q204 Lloyd CTEs train the frozen model; the refresh over
    // merged slice stats must equal this one-step full-corpus refresh.
    "q225_kmeans_refresh" ->
      s"""WITH ${lloydOracleCtes(k = 8, iters = 3, seed = "km")},
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
        |ORDER BY a.cluster, e.dim""".stripMargin,

    // q226: the q175 planted graph, center-rooted wedges over the SAME
    // maxDegree=32 truncated adjacency (each center's 32 smallest
    // neighbors), NOT EXISTS against the FULL undirected edge set,
    // (score DESC, pair) top-20.
    "q226_link_prediction" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |raw AS (
        |  SELECT id AS src, id + 1 AS dst FROM ids WHERE (id + 1) // 10 = id // 10
        |  UNION ALL
        |  SELECT id, id + 2 FROM ids WHERE (id + 2) // 10 = id // 10
        |  UNION ALL
        |  SELECT id, (id // 100) * 100 FROM ids WHERE id % 100 <> 0),
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
        |ORDER BY cn DESC, a, b LIMIT 20""".stripMargin,

    // q227: the same type-ranked cumulative shares at each size.
    "q227_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |v AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |r AS (
        |  SELECT cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token) AS rank,
        |    sum(cnt) OVER (ORDER BY cnt DESC, token
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM v),
        |tot AS (SELECT sum(cnt) AS total FROM v)
        |SELECT s.vocab_size,
        |  CAST(max(r.rank) AS BIGINT) AS n_types,
        |  CAST(max(r.cum) * 1000 // max(tot.total) AS BIGINT)
        |    AS coverage_permille
        |FROM r CROSS JOIN tot
        |JOIN (SELECT unnest([100, 1000, 10000]) AS vocab_size) s
        |  ON r.rank <= s.vocab_size
        |GROUP BY s.vocab_size ORDER BY s.vocab_size""".stripMargin,

    // q224: the q190 cut derivation + strictly-below bin count.
    "q224_quantile_bins" ->
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
        |ORDER BY b.event_id""".stripMargin,

    // q222: the quadratic per-user overlap join — what the bucket
    // rewrite must equal exactly.
    "q222_interval_overlap_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(round(value * 60000000) AS BIGINT) AS e
        |  FROM events WHERE event_type = 'click'),
        |x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 1800000000 AS e
        |  FROM events WHERE event_type = 'error'),
        |cv AS (SELECT * FROM c WHERE e > s),
        |xv AS (SELECT * FROM x WHERE e > s)
        |SELECT cv.user_id, cv.event_id AS id_a, xv.event_id AS id_b,
        |  greatest(cv.s, xv.s) AS overlap_start,
        |  least(cv.e, xv.e) AS overlap_end
        |FROM cv JOIN xv ON cv.user_id = xv.user_id
        |  AND cv.s < xv.e AND xv.s < cv.e
        |ORDER BY cv.user_id, id_a, id_b""".stripMargin,

    // q223: the same boundary sweep — (t, delta) order, running sum,
    // max + first time at max.
    "q223_peak_concurrency" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(round(value * 60000000) AS BIGINT) AS e
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT * FROM iv WHERE e > s),
        |bd AS (
        |  SELECT user_id, s AS t, CAST(1 AS BIGINT) AS d FROM v
        |  UNION ALL
        |  SELECT user_id, e, -1 FROM v),
        |r AS (
        |  SELECT user_id, t, d,
        |    sum(d) OVER (PARTITION BY user_id ORDER BY t, d
        |      ROWS UNBOUNDED PRECEDING) AS run
        |  FROM bd),
        |p AS (SELECT user_id, CAST(max(run) AS BIGINT) AS peak FROM r
        |      GROUP BY user_id),
        |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals
        |      FROM v GROUP BY user_id)
        |SELECT n.user_id, n.n_intervals, p.peak,
        |  CAST(min(r.t) AS BIGINT) AS peak_at
        |FROM r JOIN p ON r.user_id = p.user_id AND r.run = p.peak
        |JOIN n ON n.user_id = p.user_id
        |GROUP BY n.user_id, n.n_intervals, p.peak
        |ORDER BY n.user_id""".stripMargin,

    // q219: the same daily integer means, all-pairs truncating slopes,
    // histogram-rule median.
    "q219_theil_sen" ->
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
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q220: the same cells/marginals and the micro-nat seam.
    "q220_mutual_information" ->
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
        |FROM cells JOIN ma USING (a) JOIN mb USING (g) CROSS JOIN tot""".stripMargin,

    // q221: the same plants, one FULL OUTER join, the same per-column
    // IS DISTINCT FROM list.
    "q221_snapshot_diff" ->
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
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin,

    // q217: the q175 planted-graph CTEs (directed), then one
    // (frontier, minus-known) CTE pair per hop.
    "q217_hop_distances" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |raw AS (
        |  SELECT id AS src, id + 1 AS dst FROM ids WHERE (id + 1) // 10 = id // 10
        |  UNION ALL
        |  SELECT id, id + 2 FROM ids WHERE (id + 2) // 10 = id // 10
        |  UNION ALL
        |  SELECT id, (id // 100) * 100 FROM ids WHERE id % 100 <> 0),
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
        |ORDER BY node""".stripMargin,

    // q218: the q175 graph with summed planted weights, then the
    // weighted recurrence — per-unit truncating quotient, exact
    // integer edge scaling — one CTE per iteration.
    "q218_weighted_pagerank" -> weightedPageRankOracleSql,

    // q214: the identical canonicalization, digest, and three folds.
    "q214_table_checksum" ->
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
        |FROM d""".stripMargin,

    // q215: the whole funnel replayed from the shared fragments —
    // fixture, strip chain, quality CTEs + keep predicate, digest
    // dedup, q49 split buckets.
    "q215_curation_funnel" ->
      s"""WITH uni AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 2 = 0),
        |corpus AS (
        |  SELECT doc_id, $markupFixtureSql AS rawtext FROM uni),
        |stripped AS (
        |  SELECT doc_id, ${stripMarkupSql("rawtext")} AS text FROM corpus),
        |${qualityStatsCtes("stripped")},
        |qk AS (SELECT doc_id FROM s WHERE $qualityKeepSql),
        |kept AS (
        |  SELECT st.doc_id, st.text FROM stripped st
        |  SEMI JOIN qk ON st.doc_id = qk.doc_id),
        |dd AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (
        |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM kept) WHERE rn = 1),
        |tr AS (
        |  SELECT doc_id FROM dd
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'seed42'),
        |    25, 8))::BIGINT % 1000000 < 800000)
        |SELECT * FROM (
        |  SELECT CAST(0 AS INTEGER) AS stage_idx, 'raw' AS stage,
        |    CAST(count(*) AS BIGINT) AS n_docs FROM corpus
        |  UNION ALL SELECT 1, 'quality_kept', count(*) FROM kept
        |  UNION ALL SELECT 2, 'exact_deduped', count(*) FROM dd
        |  UNION ALL SELECT 3, 'train_split', count(*) FROM tr)
        |ORDER BY stage_idx""".stripMargin,

    // q211: the q27 scored/ranked shape with the label-inequality
    // predicate; sim is internal (the q27 convention — ranks gate).
    "q211_hard_negatives" ->
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
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // q212: the PLAIN inner join — bloom pruning must be invisible.
    "q212_bloom_join" ->
      """SELECT o.o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderdate >= DATE '1995-01-01'
        |  AND o.o_orderdate < DATE '1995-02-01'
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin,

    // q213: centroids over even ids, integer-L2 argmin with (d2, label)
    // ties over odd ids, truncating permille accuracy.
    "q213_centroid_probe" ->
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
        |GROUP BY l.label ORDER BY l.label""".stripMargin,

    // q209: each event expands to its 4 enclosing 15-min-aligned window
    // starts (floor-to-grid minus 0..3 slides), then the same count/rank.
    "q209_sliding_trends" ->
      """WITH w AS (
        |  SELECT epoch_us(ts) AS tu, event_type FROM events),
        |s AS (
        |  SELECT (tu // 900000000) * 900000000 - k * 900000000 AS start_us,
        |    event_type
        |  FROM w, unnest(range(0, 4)) AS t(k)),
        |c AS (SELECT start_us, event_type, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT start_us, rank, event_type AS item, CAST(n AS BIGINT) AS n
        |FROM (
        |  SELECT start_us, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY start_us
        |      ORDER BY n DESC, event_type) AS INTEGER) AS rank
        |  FROM c)
        |WHERE rank <= 3
        |ORDER BY start_us, rank""".stripMargin,

    // q210: the same md5-52-bit u, ln(u)/w micro-nat key, (key DESC, id)
    // top-100.
    "q210_weighted_sample" ->
      """SELECT event_id AS id,
        |  CAST(round(ln((('0x' || substr(md5('ws|' || CAST(event_id AS VARCHAR)), 1, 13))::BIGINT + 1)
        |      / 4503599627370496.0) / CAST(value AS DOUBLE) * 1000000.0)
        |    AS BIGINT) AS key_micro
        |FROM events WHERE CAST(value AS DOUBLE) > 0
        |ORDER BY key_micro DESC, id LIMIT 100""".stripMargin,

    // q208: the q204 Lloyd CTEs, within-cluster cosine pairs (the q28
    // float seam at 0.42), the q46 recursive closure, anti-join losers.
    "q208_semdedup_clusters" ->
      s"""WITH RECURSIVE ${lloydOracleCtes(k = 8, iters = 3, seed = "km")},
        |af AS (
        |  SELECT id, cluster FROM (
        |    SELECT e.id, c.cluster,
        |      sum((e.q - c.c) * (e.q - c.c)) AS d2
        |    FROM ex e JOIN c3 c ON e.dim = c.dim
        |    GROUP BY e.id, c.cluster)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1),
        |emb2 AS (
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
        |ORDER BY vec_id""".stripMargin,

    // q237: the two-level trainer replay — coarse Lloyd CTEs at km|c,
    // shard argmin, per-shard fine recurrence, global id = shard*3+fcl.
    "q237_kmeans_twolevel" ->
      s"""WITH ${embeddingsExCte},
        |${twoLevelOracleCtes(kc = 3, kf = 3, itersC = 2, itersF = 2,
             seed = "km")}
        |${twoLevelFinalAssignSql(kf = 3, itersF = 2)}
        |ORDER BY id""".stripMargin,

    // q242: the two-level fit CTEs (shared verbatim with q237 — stored
    // == refit is the gate's whole point), then the SERVE replay over
    // the fresh batch: micro-quantized reversed vectors at offset ids,
    // coarse argmin against c{itersC}, fine argmin against f{itersF}
    // keyed by the fresh batch's own coarse shard.
    "q242_twolevel_serve" ->
      s"""WITH ${embeddingsExCte},
        |${twoLevelOracleCtes(kc = 3, kf = 3, itersC = 2, itersF = 2,
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
        |ORDER BY id""".stripMargin,

    // q254: the sampled-fit lifecycle replay — the fit CTE chain runs
    // over sx (the md5-ranked 200-id sample, DISTINCT ids so the rank
    // is over rows-as-ids exactly like the Spark top-N), and the final
    // assignment runs over the FULL ex through the sample-trained
    // (c2, f2) tables: coarse argmin, then fine argmin keyed by each
    // row's own coarse shard.
    "q254_twolevel_sampled_fit" ->
      s"""WITH ${embeddingsExCte},
        |sxid AS (
        |  SELECT id FROM (SELECT DISTINCT id FROM ex)
        |  ORDER BY md5('km|s|' || CAST(id AS VARCHAR)), id LIMIT 200),
        |sx AS MATERIALIZED (
        |  SELECT e.id, e.dim, e.q FROM ex e JOIN sxid USING (id)),
        |${twoLevelOracleCtes(kc = 3, kf = 3, itersC = 2, itersF = 2,
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
        |ORDER BY id""".stripMargin,

    // q248: fit (two-level CTEs) + corpus SERVE assignment + q208's
    // within-cluster cosine closure → survivor index, then the batch
    // (even ids verbatim, odd reversed, +100000) serves through the same
    // final centroids and probes its cluster's survivors.
    "q248_semdedup_incremental" -> semDeDupIncrementalOracleSql,

    // q251: the drained streaming probe equals q248's batch answer —
    // serve stateless, index frozen, per-row decisions independent.
    "q251_stream_semdedup" -> semDeDupIncrementalOracleSql,

    // q255: the admitting frontier's sequential wave replay — see
    // [[semDeDupAdmitOracleSql]].
    "q255_stream_semdedup_admit" -> semDeDupAdmitOracleSql,

    // q249: the drained streaming serve equals q242's batch serve — the
    // identical fit + serve replay.
    "q249_stream_twolevel_serve" ->
      s"""WITH ${embeddingsExCte},
        |${twoLevelOracleCtes(kc = 3, kf = 3, itersC = 2, itersF = 2,
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
        |ORDER BY id""".stripMargin,

    // q243: fit CTEs shared with q237/q242, then the one-step refresh —
    // serve-argmin assignment over the full corpus (even/odd slice stats
    // ADD to exactly this), (shard, fcl, dim) micro sums with truncating
    // div, fine clusters with no rows keeping their stored centroid.
    "q243_twolevel_refresh" ->
      s"""WITH ${embeddingsExCte},
        |${twoLevelOracleCtes(kc = 3, kf = 3, itersC = 2, itersF = 2,
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
        |ORDER BY shard, fcl, dim""".stripMargin,

    // q238: q208's pair/closure tail on the TWO-LEVEL assignment (the
    // derived k=8 routes to 3 coarse × 3 fine under flatKMax=1).
    "q238_semdedup_twolevel" ->
      s"""WITH RECURSIVE ${embeddingsExCte},
        |${twoLevelOracleCtes(kc = 3, kf = 3, itersC = 2, itersF = 2,
             seed = "km")},
        |af AS (
        |  SELECT id, shard * 3 + fcl AS cluster FROM (
        |    SELECT e.id, sh.shard, c.fcl,
        |      sum((e.q - c.c) * (e.q - c.c)) AS d2
        |    FROM ex e JOIN shards sh USING (id)
        |    JOIN f2 c ON c.shard = sh.shard AND c.dim = e.dim
        |    GROUP BY e.id, sh.shard, c.fcl)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, fcl) = 1),
        |emb2 AS (
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
        |ORDER BY vec_id""".stripMargin,

    // q207: the q42 corpus CTE, the same windows (DuckDB range() stop is
    // exclusive == Spark sequence's inclusive len-L), distinct-doc df
    // filter, then the q202 union sweep and truncating permille.
    "q207_repeated_passages" ->
      """WITH corpus AS (
        |  SELECT d1.doc_id,
        |    d1.text || chr(10) || chr(10) || coalesce(d2.text, '')
        |      || chr(10) || chr(10) || d3.text AS text
        |  FROM documents d1
        |  LEFT JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        |  JOIN documents d3 ON d3.doc_id = d1.doc_id % 50),
        |base AS (
        |  SELECT doc_id, text, len(text) AS n FROM corpus
        |  WHERE len(text) >= 32),
        |wins AS MATERIALIZED (
        |  SELECT doc_id, p,
        |    ('0x' || substr(md5(substr(text, p + 1, 32)), 1, 15))::BIGINT AS h
        |  FROM base, unnest(range(0, n - 32 + 1, 4)) AS t(p)),
        |hot AS (
        |  SELECT h FROM (
        |    SELECT h, count(DISTINCT doc_id) AS df FROM wins GROUP BY h)
        |  WHERE df >= 2),
        |spans AS (
        |  SELECT doc_id, p AS s, p + 32 AS e FROM wins SEMI JOIN hot USING (h)),
        |m AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run
        |  FROM spans),
        |b AS (
        |  SELECT doc_id, s, e,
        |    sum(CASE WHEN run IS NULL OR s > run THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS blk
        |  FROM m),
        |g AS (
        |  SELECT doc_id, blk, count(*) AS c, min(s) AS ms, max(e) AS me
        |  FROM b GROUP BY doc_id, blk),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw,
        |    CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(me - ms) AS BIGINT) AS cov
        |  FROM g GROUP BY doc_id)
        |SELECT base.doc_id,
        |  coalesce(a.nw, 0) AS n_windows,
        |  coalesce(a.nb, 0) AS n_blocks,
        |  coalesce(a.cov, 0) AS copied_chars,
        |  CAST(coalesce(a.cov, 0) * 1000 // base.n AS BIGINT)
        |    AS copy_permille,
        |  CAST(base.n AS BIGINT) AS n_chars
        |FROM base LEFT JOIN agg a USING (doc_id)
        |ORDER BY base.doc_id""".stripMargin,

    // q206: the q40 batch sessionization, timestamps as exact epoch
    // micros — what the drained append-mode stream must equal.
    "q206_stream_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, epoch_us(min(ts)) AS start_us,
        |  epoch_us(max(ts)) + 1800000000 AS end_us,
        |  count(*) AS events,
        |  CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    // q205: the q204 recurrence + a per-cluster (d2, id) rank capped at m.
    "q205_cluster_coreset" ->
      s"""WITH ${lloydOracleCtes(k = 8, iters = 3, seed = "km")},
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
        |ORDER BY cluster, rank""".stripMargin,

    // q203: both extent tables rebuilt (q181's z buckets + the x-sort
    // buckets), the same inclusive overlap test and permille arithmetic.
    "q203_prune_report" ->
      s"""WITH m AS (SELECT max(l_partkey) AS xm, max(l_suppkey) AS ym
        |           FROM lineitem),
        |s AS (SELECT (l_partkey * 256) // (xm + 1) AS xb,
        |             (l_suppkey * 256) // (ym + 1) AS yb
        |      FROM lineitem, m),
        |z AS (SELECT xb, yb, ${zInterleaveSql("xb", "yb", 8)} AS zv FROM s),
        |zext AS (
        |  SELECT (zv * 64) // 65536 AS bucket, count(*) AS n_rows,
        |    min(xb) AS x_min, max(xb) AS x_max,
        |    min(yb) AS y_min, max(yb) AS y_max
        |  FROM z GROUP BY 1),
        |xext AS (
        |  SELECT (xb * 64) // 256 AS bucket, count(*) AS n_rows,
        |    min(xb) AS x_min, max(xb) AS x_max,
        |    min(yb) AS y_min, max(yb) AS y_max
        |  FROM s GROUP BY 1),
        |lay AS (
        |  SELECT 'zorder' AS layout, * FROM zext
        |  UNION ALL
        |  SELECT 'xsort' AS layout, * FROM xext)
        |SELECT layout,
        |  CAST(count(*) AS BIGINT) AS files_total,
        |  CAST(sum(CASE WHEN x_max >= 0 AND x_min <= 255
        |                 AND y_max >= 96 AND y_min <= 127
        |                THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
        |  CAST(sum(n_rows) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN x_max >= 0 AND x_min <= 255
        |                 AND y_max >= 96 AND y_min <= 127
        |                THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(sum(CASE WHEN x_max >= 0 AND x_min <= 255
        |                 AND y_max >= 96 AND y_min <= 127
        |                THEN n_rows ELSE 0 END) * 1000 // sum(n_rows)
        |    AS BIGINT) AS scan_permille
        |FROM lay GROUP BY layout ORDER BY layout""".stripMargin,

    // q202: the same sweep — running-max-end block flags, running-sum
    // block ids, per-block extents, per-key rollup — in DuckDB windows.
    "q202_interval_coverage" ->
      """WITH base AS (
        |  SELECT user_id AS k, epoch_us(ts) AS s,
        |    epoch_us(ts) + CASE WHEN event_id % 13 = 0 THEN 0
        |      ELSE CAST(round(value * 60000000) AS BIGINT) END AS e
        |  FROM events),
        |dropped AS (
        |  SELECT k, sum(CASE WHEN s IS NULL OR e IS NULL OR e <= s
        |                     THEN 1 ELSE 0 END) AS n_dropped
        |  FROM base GROUP BY k),
        |v AS (SELECT * FROM base WHERE s IS NOT NULL AND e > s),
        |m AS (
        |  SELECT k, s, e,
        |    max(e) OVER (PARTITION BY k ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run
        |  FROM v),
        |b AS (
        |  SELECT k, s, e,
        |    sum(CASE WHEN run IS NULL OR s > run THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY k ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS blk
        |  FROM m),
        |g AS (
        |  SELECT k, blk, count(*) AS c, min(s) AS ms, max(e) AS me
        |  FROM b GROUP BY k, blk),
        |agg AS (
        |  SELECT k, CAST(sum(c) AS BIGINT) AS n_intervals,
        |    CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(me - ms) AS BIGINT) AS covered,
        |    max(me) - min(ms) AS span
        |  FROM g GROUP BY k)
        |SELECT d.k AS user_id,
        |  coalesce(a.n_intervals, 0) AS n_intervals,
        |  coalesce(a.n_blocks, 0) AS n_blocks,
        |  CAST(d.n_dropped AS BIGINT) AS n_dropped,
        |  coalesce(a.covered, 0) AS covered,
        |  coalesce(a.covered * 1000 // a.span, 0) AS covered_permille
        |FROM dropped d LEFT JOIN agg a USING (k)
        |ORDER BY user_id""".stripMargin,


    // q167: the same digest two-level aggregate and truncating permille.
    "q167_dedup_pressure" ->
      """WITH c AS (
        |  SELECT source, md5(coalesce(text, '')) AS dg, count(*) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT source,
        |  CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c) - count(*) AS BIGINT) AS dup_docs,
        |  (CAST(sum(c) AS BIGINT) - CAST(count(*) AS BIGINT)) * 1000
        |    // CAST(sum(c) AS BIGINT) AS dup_permille
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // q162: the encode chain restricted to the streamed (odd-id) half —
    // the drained per-doc appends must equal the batch encode exactly.
    "q162_stream_bpe_counts" -> ("WITH " + bpeEncodeCtes(8) +
      """
        |SELECT doc_id, bt AS bpe_tokens
        |FROM dc WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin),

    // q163: the encode chain joined back to every document, aggregated
    // per source with the same truncating permille.
    "q163_tokenizer_fit" -> ("WITH " + bpeEncodeCtes(8) +
      """
        |SELECT d.source,
        |  CAST(sum(coalesce(dc.bt, 0)) AS BIGINT) AS bpe_tokens,
        |  CAST(sum(coalesce(len(d.text), 0)) AS BIGINT) AS chars,
        |  CASE WHEN sum(coalesce(dc.bt, 0)) > 0
        |       THEN CAST(sum(coalesce(len(d.text), 0)) * 1000 AS BIGINT)
        |            // CAST(sum(coalesce(dc.bt, 0)) AS BIGINT) END
        |    AS chars_per_token_permille
        |FROM documents d LEFT JOIN dc USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // q164: the same rank-20 term pick, every occurrence located by
    // ordinal scan, the same clamped ±3 slice joined by single spaces.
    "q164_kwic_snippets" ->
      """WITH allt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS v
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |vocab AS (SELECT v, count(*) AS f FROM allt GROUP BY v),
        |term AS (SELECT v FROM vocab ORDER BY f DESC, v LIMIT 1 OFFSET 19),
        |tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |hits AS (
        |  SELECT doc_id, l, CAST(i - 1 AS BIGINT) AS pos
        |  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM tok)
        |  WHERE l[i] = (SELECT v FROM term))
        |SELECT CAST(doc_id AS BIGINT) AS id, pos,
        |  array_to_string(list_slice(l,
        |    greatest(pos + 1 - 3, 1), least(pos + 1 + 3, len(l))), ' ') AS snippet
        |FROM hits ORDER BY id, pos""".stripMargin,

    // q161: the same planted spellings and the IDENTICAL regex chain
    // (fragment strip, lowercased scheme/authority, www/default-port
    // strip, trailing-slash rule) replayed in RE2.
    "q161_url_canonical_dedup" ->
      """WITH raw AS (
        |  SELECT CASE doc_id % 5
        |    WHEN 0 THEN 'HTTP://Host' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.Example.com:80/p/' || CAST(doc_id % 17 AS VARCHAR)
        |    WHEN 1 THEN 'http://www.host' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example.com/p/' || CAST(doc_id % 17 AS VARCHAR) || '/'
        |    WHEN 2 THEN 'http://host' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example.com/p/' || CAST(doc_id % 17 AS VARCHAR) || '#ref'
        |    WHEN 3 THEN 'https://host' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example.com:443/q?x=' || CAST(doc_id % 17 AS VARCHAR)
        |    ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
        |  END AS url FROM documents),
        |t AS (SELECT url, regexp_replace(trim(url), '#.*', '') AS u FROM raw),
        |p AS (SELECT url,
        |  lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(lower(regexp_extract(u,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS auth1,
        |  regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
        |  FROM t),
        |c AS (SELECT url,
        |  CASE WHEN scheme = '' THEN NULL ELSE scheme || '://' ||
        |    CASE WHEN scheme = 'http' THEN regexp_replace(auth1, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(auth1, ':443$', '')
        |         ELSE auth1 END ||
        |    CASE WHEN contains(rest, '?') THEN rest
        |         ELSE regexp_replace(rest, '/+$', '') END
        |  END AS canonical_url FROM p)
        |SELECT canonical_url, CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
        |  CAST(count(*) AS BIGINT) AS n_urls
        |FROM c WHERE canonical_url IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q159: the tf table rebuilt from the corpus, the same MILLI-nat idf
    // seam over the matched terms' document frequencies, the same
    // integer product sum and (score DESC, id) per-query top-5.
    "q159_more_like_this" ->
      """WITH tf AS (
        |  SELECT doc_id AS id, w AS token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |        FROM documents
        |        WHERE text IS NOT NULL AND len(trim(text)) > 0)
        |  GROUP BY 1, 2),
        |n AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS nn FROM tf),
        |q AS (SELECT token, id AS qid, tf AS qtf FROM tf WHERE id < 5),
        |m AS (SELECT * FROM tf WHERE token IN (SELECT DISTINCT token FROM q)),
        |idf AS (
        |  SELECT token,
        |    CAST(round(ln(CAST(nn AS DOUBLE) / df) * 1000) AS BIGINT) AS idfk
        |  FROM (SELECT token, count(DISTINCT id) AS df FROM m GROUP BY 1), n),
        |s AS (
        |  SELECT q.qid, m.id,
        |    CAST(sum(q.qtf * m.tf * idf.idfk * idf.idfk) AS BIGINT) AS score_milli2
        |  FROM m JOIN q USING (token) JOIN idf USING (token)
        |  WHERE m.id <> q.qid
        |  GROUP BY 1, 2)
        |SELECT qid,
        |  CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY score_milli2 DESC, id) AS INT) AS rank,
        |  id AS neighbor_id, score_milli2
        |FROM s QUALIFY rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // q160: from-scratch index over exactly the surviving docs
    // (id % 4 != 0) — the equality the delete+ingest compaction must hit;
    // same rank-20/21 term pick and hits gate as q151.
    "q160_index_delete_compact" ->
      """WITH allt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS v
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |vocab AS (SELECT v, count(*) AS f FROM allt GROUP BY v),
        |terms AS (SELECT v FROM vocab ORDER BY f DESC, v LIMIT 2 OFFSET 19),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents
        |  WHERE doc_id % 4 <> 0
        |    AND text IS NOT NULL AND len(trim(text)) > 0),
        |m AS (
        |  SELECT doc_id, count(*) AS hits
        |  FROM tok WHERE token IN (SELECT v FROM terms)
        |  GROUP BY doc_id)
        |SELECT CAST(doc_id AS BIGINT) AS id
        |FROM m WHERE hits = 2 ORDER BY id""".stripMargin,

    // q157: merges re-derived by the q152 training CTEs, then the v0..v8
    // encode chain replays them over the vocabulary — per-doc REAL
    // subword counts, tokenless docs 0.
    "q157_bpe_encode" -> bpeEncodeOracleSql,

    // q158: the q63 greedy recursive CTE over the q157 subword counts —
    // packing driven by what the tokenizer actually emits.
    "q158_bpe_pack_greedy" -> bpePackOracleSql,

    "q156_personalized_pagerank" -> personalizedPagerankOracleSql,

    // q141: the same two-level counts, one micro-nat-rounded ln per
    // distinct (count, total), integer weighted sum, truncating division.
    "q141_token_entropy" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |c AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |t AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS total_tokens,
        |    count(*) AS distinct_tokens
        |  FROM c GROUP BY 1),
        |j AS (
        |  SELECT c.source, c.c, t.total_tokens, t.distinct_tokens,
        |    CAST(round(ln(CAST(t.total_tokens AS DOUBLE) / c.c) * 1e6, 0) AS BIGINT) AS term
        |  FROM c JOIN t ON c.source = t.source)
        |SELECT source, max(total_tokens) AS total_tokens,
        |  max(distinct_tokens) AS distinct_tokens,
        |  CAST(sum(c * term) AS BIGINT) // max(total_tokens) AS entropy_micro_nats,
        |  CAST(round(ln(CAST(max(distinct_tokens) AS DOUBLE)) * 1e6, 0) AS BIGINT)
        |    AS max_entropy_micro_nats
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // q140: the same salt-shuffled weight line and ceil arithmetic as a
    // global window (fine at oracle scale; the operator's bucket
    // histogram avoids it); cumulative sums CAST back to BIGINT.
    "q140_pps_sample" ->
      """WITH w0 AS (
        |  SELECT doc_id AS id,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS weight
        |  FROM documents),
        |w AS (
        |  SELECT id, weight, md5('r10|' || CAST(id AS VARCHAR)) AS k
        |  FROM w0 WHERE weight > 0),
        |t AS (SELECT CAST(sum(weight) AS BIGINT) AS W FROM w),
        |c AS (
        |  SELECT id, weight,
        |    CAST(coalesce(sum(weight) OVER (ORDER BY k, CAST(id AS VARCHAR)
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - weight, 0) AS BIGINT) AS cb
        |  FROM w),
        |m AS (
        |  SELECT id, weight,
        |    CAST(((cb + weight) * 100 + W - 1) // W
        |       - (cb * 100 + W - 1) // W AS BIGINT) AS multiplicity
        |  FROM c, t)
        |SELECT id, weight, multiplicity FROM m
        |WHERE multiplicity > 0 ORDER BY id""".stripMargin,

    // q139: the same deterministic needle pick, then the naive full
    // contains() scan the trigram index exists to avoid.
    "q139_substring_search" ->
      """WITH n AS (
        |  SELECT substr(text, 1, 8) AS needle
        |  FROM documents WHERE len(text) >= 8
        |  ORDER BY doc_id LIMIT 1)
        |SELECT doc_id AS id
        |FROM documents, n
        |WHERE text IS NOT NULL AND contains(text, needle)
        |ORDER BY id""".stripMargin,

    // q138: the same quantize-once/truncating-div centroid chain via
    // DuckDB's indexed lambda (i is 1-based); integer sums CAST back to
    // BIGINT (HUGEINT→float64 driver hazard, the q64 lesson).
    "q138_centroid_drift" ->
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
        |FROM dd GROUP BY label ORDER BY "group"""".stripMargin,

    // q135: the plain quadratic inequality join the bucket rewrite must
    // equal exactly.
    "q135_range_join" ->
      """WITH s AS (
        |  SELECT event_id AS signup_id, epoch_us(ts) AS lo,
        |    epoch_us(ts) + 3600000000 AS hi
        |  FROM events WHERE event_type = 'signup'),
        |p AS (
        |  SELECT event_id AS purchase_id, epoch_us(ts) AS pt
        |  FROM events WHERE event_type = 'purchase')
        |SELECT signup_id, purchase_id
        |FROM s, p WHERE p.pt >= s.lo AND p.pt <= s.hi
        |ORDER BY signup_id, purchase_id""".stripMargin,

    // q136: the same planted URLs and host parse as q120, then five
    // explicit iteration CTEs replaying the integer parts-per-1e12
    // recurrence (sums CAST back to BIGINT at every seam — HUGEINT would
    // leak to float64 driver-side, the q64 lesson).
    "q136_domain_pagerank" ->
      """WITH p AS (
        |  SELECT doc_id, source,
        |    text || ' see https://host' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example' || CAST(doc_id % 3 AS VARCHAR)
        |      || '.com/p/' || CAST(doc_id AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0
        |              THEN ' and http://mirror' || CAST(doc_id % 5 AS VARCHAR)
        |                   || '.example.org/x'
        |              ELSE '' END AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, source,
        |    unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
        |  FROM p),
        |ed AS (
        |  SELECT DISTINCT source AS src,
        |    regexp_extract(url, '^https?://([^/?#]+)', 1) AS dst
        |  FROM u),
        |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
        |       FROM ed GROUP BY 1),
        |cn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, cn),
        |i1 AS (
        |  SELECT nx.node, (150 * (1000000000000 // cn.n)) // 1000
        |    + (850 * coalesce(s.acc, 0)) // 1000 AS r
        |  FROM nodes nx CROSS JOIN cn LEFT JOIN (
        |    SELECT ed.dst AS node, CAST(sum(pr.r // od.outdeg) AS BIGINT) AS acc
        |    FROM r0 pr JOIN od ON pr.node = od.node JOIN ed ON ed.src = pr.node
        |    GROUP BY ed.dst) s ON s.node = nx.node),
        |i2 AS (
        |  SELECT nx.node, (150 * (1000000000000 // cn.n)) // 1000
        |    + (850 * coalesce(s.acc, 0)) // 1000 AS r
        |  FROM nodes nx CROSS JOIN cn LEFT JOIN (
        |    SELECT ed.dst AS node, CAST(sum(pr.r // od.outdeg) AS BIGINT) AS acc
        |    FROM i1 pr JOIN od ON pr.node = od.node JOIN ed ON ed.src = pr.node
        |    GROUP BY ed.dst) s ON s.node = nx.node),
        |i3 AS (
        |  SELECT nx.node, (150 * (1000000000000 // cn.n)) // 1000
        |    + (850 * coalesce(s.acc, 0)) // 1000 AS r
        |  FROM nodes nx CROSS JOIN cn LEFT JOIN (
        |    SELECT ed.dst AS node, CAST(sum(pr.r // od.outdeg) AS BIGINT) AS acc
        |    FROM i2 pr JOIN od ON pr.node = od.node JOIN ed ON ed.src = pr.node
        |    GROUP BY ed.dst) s ON s.node = nx.node),
        |i4 AS (
        |  SELECT nx.node, (150 * (1000000000000 // cn.n)) // 1000
        |    + (850 * coalesce(s.acc, 0)) // 1000 AS r
        |  FROM nodes nx CROSS JOIN cn LEFT JOIN (
        |    SELECT ed.dst AS node, CAST(sum(pr.r // od.outdeg) AS BIGINT) AS acc
        |    FROM i3 pr JOIN od ON pr.node = od.node JOIN ed ON ed.src = pr.node
        |    GROUP BY ed.dst) s ON s.node = nx.node),
        |i5 AS (
        |  SELECT nx.node, (150 * (1000000000000 // cn.n)) // 1000
        |    + (850 * coalesce(s.acc, 0)) // 1000 AS r
        |  FROM nodes nx CROSS JOIN cn LEFT JOIN (
        |    SELECT ed.dst AS node, CAST(sum(pr.r // od.outdeg) AS BIGINT) AS acc
        |    FROM i4 pr JOIN od ON pr.node = od.node JOIN ed ON ed.src = pr.node
        |    GROUP BY ed.dst) s ON s.node = nx.node)
        |SELECT node, r AS rank_ppt FROM i5 ORDER BY node""".stripMargin,

    // q142: the q136 replay plus a dangling-mass CTE per iteration —
    // sink mass sums exactly, every node receives its truncated share.
    "q142_pagerank_redistribute" -> pagerankRedistOracleSql,

    // q132: the same (count DESC, bigram ASC) top-bigram pick, membership
    // via the reconstructed consecutive-bigram list.
    "q132_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |bgs AS (
        |  SELECT unnest(list_transform(range(1, len(l)),
        |    i -> l[i] || ' ' || l[i + 1])) AS bg
        |  FROM t),
        |top AS (SELECT bg FROM bgs GROUP BY bg ORDER BY count(*) DESC, bg LIMIT 1)
        |SELECT DISTINCT CAST(doc_id AS BIGINT) AS id
        |FROM t, top
        |WHERE list_contains(
        |  list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1]), top.bg)
        |ORDER BY id""".stripMargin,

    // q131: tf table + the same micro-nat idf rounding + the same
    // (score DESC, id) top-10 gate.
    "q131_ranked_search" ->
      """WITH allt AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS v
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |vocab AS (SELECT v, count(*) AS f FROM allt GROUP BY v),
        |terms AS (SELECT v FROM vocab ORDER BY f DESC, v LIMIT 4 OFFSET 17),
        |tf AS (SELECT doc_id, v AS token, count(*) AS tf
        |       FROM allt GROUP BY doc_id, v),
        |nn AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
        |idf AS (
        |  SELECT token,
        |    CAST(round(ln(CAST(n AS DOUBLE) / count(DISTINCT doc_id)) * 1000000)
        |      AS BIGINT) AS idfm
        |  FROM tf, nn
        |  WHERE token IN (SELECT v FROM terms)
        |  GROUP BY token, n),
        |sc AS (
        |  SELECT doc_id, sum(tf * idfm) AS score
        |  FROM tf JOIN idf USING (token) GROUP BY doc_id)
        |SELECT CAST(doc_id AS BIGINT) AS id, CAST(score AS BIGINT) AS score_micro
        |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // q130: the same (freq DESC, token ASC) rank-20/21 term pick, then
    // distinct per-doc tokens filtered to the terms and a hits==2 gate.
    "q130_inverted_search" ->
      """WITH allt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS v
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |vocab AS (SELECT v, count(*) AS f FROM allt GROUP BY v),
        |terms AS (SELECT v FROM vocab ORDER BY f DESC, v LIMIT 2 OFFSET 19),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |m AS (
        |  SELECT doc_id, count(*) AS hits
        |  FROM tok WHERE token IN (SELECT v FROM terms)
        |  GROUP BY doc_id)
        |SELECT CAST(doc_id AS BIGINT) AS id
        |FROM m WHERE hits = 2 ORDER BY id""".stripMargin,

    // q129: the same epoch-week integer arithmetic and first-event join.
    "q129_retention_cohorts" ->
      """WITH f AS (
        |  SELECT user_id AS u, min(ts) AS t0 FROM events GROUP BY user_id),
        |fw AS (
        |  SELECT u, date_diff('day', DATE '1970-01-01', CAST(t0 AS DATE)) // 7 AS w0
        |  FROM f),
        |e AS (
        |  SELECT user_id AS u,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS w
        |  FROM events),
        |j AS (
        |  SELECT e.u, fw.w0, e.w - fw.w0 AS woff
        |  FROM e JOIN fw ON e.u = fw.u
        |  WHERE e.w - fw.w0 BETWEEN 0 AND 12)
        |SELECT CAST(w0 AS BIGINT) AS cohort_week,
        |  CAST(woff AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT u) AS BIGINT) AS n_users
        |FROM j GROUP BY w0, woff ORDER BY cohort_week, week_offset""".stripMargin,

    // q128: the same stage-chained min-timestamp joins; only counts leave
    // the chain, so timestamp representation differences cannot surface.
    "q128_event_funnel" ->
      """WITH v AS (
        |  SELECT user_id AS u, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t
        |  FROM events e JOIN v ON e.user_id = v.u
        |  WHERE e.event_type = 'click' AND e.ts >= v.t GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t
        |  FROM events e JOIN c ON e.user_id = c.u
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t GROUP BY e.user_id),
        |s AS (
        |  SELECT 1 AS stage_idx, 'view' AS stage,
        |         (SELECT count(*) FROM v) AS n_users
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM c)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM p))
        |SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage,
        |  CAST(n_users AS BIGINT) AS n_users,
        |  CAST(n_users * 1000 //
        |    (SELECT n_users FROM s WHERE stage_idx = 1) AS BIGINT)
        |    AS permille_of_first
        |FROM s ORDER BY stage_idx""".stripMargin,

    // q127: one UNION branch per column replays the same counts and the
    // native-then-string min/max rendering.
    "q127_table_profile" ->
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
        |FROM p ORDER BY col_name""".stripMargin,

    // q126: the q75 threshold chain (salt prep1) → the q66 greedy
    // recursion over the kept docs → the q89 md5 total order over
    // sequence keys, chained as CTEs.
    "q126_training_prep" ->
      """WITH RECURSIVE
        |n AS (SELECT source, count(*) AS n FROM documents
        |      WHERE source IS NOT NULL GROUP BY source),
        |w0 AS (SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS w0 FROM n),
        |w AS (SELECT source, n,
        |        CASE WHEN w0 * w0 > n THEN w0 - 1
        |             WHEN (w0 + 1) * (w0 + 1) <= n THEN w0 + 1
        |             ELSE w0 END AS w
        |      FROM w0),
        |sww AS (SELECT sum(w) AS sw, sum(n) AS total FROM w),
        |thr AS (SELECT source,
        |          least(CAST(1000000 AS HUGEINT),
        |            (CAST(total AS HUGEINT) * 500 // 1000) * w * 1000000
        |              // (CAST(sw AS HUGEINT) * n)) AS thr
        |        FROM w, sww),
        |kept AS (
        |  SELECT d.doc_id, d.source, d.text
        |  FROM documents d JOIN thr ON d.source = thr.source
        |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'prep1'), 25, 8))::BIGINT
        |          % 1000000 < thr.thr),
        |tok AS (
        |  SELECT doc_id AS id, source AS shard,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id, md5(coalesce(text, ''))) AS rn
        |  FROM kept),
        |g AS (
        |  SELECT id, shard, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS seq_idx, n_tokens AS used
        |  FROM tok WHERE rn = 1
        |  UNION ALL
        |  SELECT t.id, t.shard, t.n_tokens, t.rn,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN g.seq_idx + 1 ELSE g.seq_idx END,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN t.n_tokens ELSE g.used + t.n_tokens END
        |  FROM g JOIN tok t ON t.shard = g.shard AND t.rn = g.rn + 1),
        |seqs AS (
        |  SELECT shard, seq_idx, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
        |  FROM g GROUP BY shard, seq_idx),
        |r AS (
        |  SELECT shard, seq_idx, n_docs, seq_tokens,
        |    row_number() OVER (ORDER BY
        |      md5('epoch0' || '|' || shard || '#' || CAST(seq_idx AS VARCHAR)),
        |      shard || '#' || CAST(seq_idx AS VARCHAR)) - 1 AS shuffle_pos
        |  FROM seqs)
        |SELECT shard, CAST(seq_idx AS BIGINT) AS seq_idx, n_docs, seq_tokens,
        |  CAST(shuffle_pos AS BIGINT) AS shuffle_pos
        |FROM r ORDER BY shard, seq_idx""".stripMargin,

    // q125: the gear recursion over ledger (even ids) and probe (odd ids
    // < 500) halves at once; reused = chunk hash IN the ledger's distinct
    // set (string equality — Spark's 60-bit prefix test differs only on
    // md5-prefix collisions, the documented convention).
    "q125_stream_cdc_probe" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT 'led' AS ver, doc_id, text, length(text) AS n
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'new', doc_id, text, length(text)
        |  FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 2 = 1 AND doc_id < 500),
        |step(ver, doc_id, pos, h, start, cut) AS (
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
        |  WHERE s.pos = d.n AND NOT s.cut AND d.n > 0),
        |hx AS (
        |  SELECT ch.ver, ch.doc_id,
        |    md5(substr(d.text, CAST(start AS INTEGER),
        |               CAST(pos - start + 1 AS INTEGER))) AS hash
        |  FROM ch JOIN d ON ch.ver = d.ver AND ch.doc_id = d.doc_id),
        |led AS (SELECT DISTINCT hash FROM hx WHERE ver = 'led'),
        |probe AS (
        |  SELECT doc_id, count(*) AS n_chunks,
        |    count(*) FILTER (WHERE hash IN (SELECT hash FROM led)) AS reused
        |  FROM hx WHERE ver = 'new' GROUP BY doc_id)
        |SELECT p.doc_id,
        |  CAST(coalesce(n_chunks, 0) AS BIGINT) AS n_chunks,
        |  CAST(coalesce(reused, 0) AS BIGINT) AS reused_chunks,
        |  CAST(CASE WHEN coalesce(n_chunks, 0) = 0 THEN NULL
        |       ELSE reused * 1000 // n_chunks END AS BIGINT) AS reuse_permille
        |FROM (SELECT doc_id FROM documents
        |      WHERE doc_id % 2 = 1 AND doc_id < 500) p
        |LEFT JOIN probe ON p.doc_id = probe.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    // q124: the q123 gear recursion run over BOTH planted versions at once
    // (state keyed by (ver, doc)), then the distinct-v1 / aggregated-v2
    // join and the same reuse arithmetic.
    "q124_cdc_transfer_diff" ->
      """WITH RECURSIVE
        |base AS (SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL),
        |d AS (
        |  SELECT 'v1' AS ver, doc_id, source, text, length(text) AS n
        |  FROM base WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT 'v2', doc_id, source,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END,
        |    length(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END)
        |  FROM base WHERE doc_id % 7 <> 0),
        |step(ver, doc_id, pos, h, start, cut) AS (
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
        |  WHERE s.pos = d.n AND NOT s.cut AND d.n > 0),
        |hx AS (
        |  SELECT ch.ver, d.source, pos - start + 1 AS len,
        |    md5(substr(d.text, CAST(start AS INTEGER),
        |               CAST(pos - start + 1 AS INTEGER))) AS hash
        |  FROM ch JOIN d ON ch.ver = d.ver AND ch.doc_id = d.doc_id),
        |olds AS (SELECT DISTINCT source, hash FROM hx WHERE ver = 'v1'),
        |newa AS (SELECT source, hash, count(*) AS c, sum(len) AS ls
        |         FROM hx WHERE ver = 'v2' GROUP BY 1, 2),
        |j AS (
        |  SELECT n.source, n.c, n.ls, (o.hash IS NOT NULL) AS reused
        |  FROM newa n LEFT JOIN olds o
        |    ON n.source = o.source AND n.hash = o.hash)
        |SELECT source,
        |  CAST(sum(c) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN reused THEN c ELSE 0 END) AS BIGINT) AS reused_chunks,
        |  CAST(sum(ls) AS BIGINT) AS total_cps,
        |  CAST(sum(CASE WHEN reused THEN ls ELSE 0 END) AS BIGINT) AS reused_cps,
        |  CAST(sum(c) - sum(CASE WHEN reused THEN c ELSE 0 END) AS BIGINT) AS new_chunks,
        |  CAST(sum(CASE WHEN reused THEN ls ELSE 0 END) * 1000 // sum(ls) AS BIGINT)
        |    AS reuse_permille
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // q123: the gear recursion replayed code point by code point — same
    // md5-derived gear constants, same 2h+g mod 2^60 roll with reset-at-cut,
    // same (>=16 and h mod 32 = 0) or =128 cut rule — then md5 of each
    // chunk substring and the same two-level duplication arithmetic.
    "q123_cdc_chunks" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, source, text, length(text) AS n
        |      FROM documents WHERE text IS NOT NULL),
        |step(doc_id, pos, h, start, cut) AS (
        |  SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |         CAST(1 AS BIGINT), false
        |  FROM d
        |  UNION ALL
        |  SELECT doc_id, pos, hh, st,
        |         (pos - st + 1 >= 16 AND hh % 32 = 0) OR pos - st + 1 = 128
        |  FROM (
        |    SELECT s.doc_id AS doc_id, s.pos + 1 AS pos,
        |      ((CASE WHEN s.cut THEN 0 ELSE s.h END) * 2 +
        |        ('0x' || substr(md5('gear' ||
        |           CAST(unicode(substr(d.text, CAST(s.pos AS INTEGER) + 1, 1)) AS VARCHAR)),
        |           1, 15))::BIGINT) % 1152921504606846976 AS hh,
        |      CASE WHEN s.cut THEN s.pos + 1 ELSE s.start END AS st
        |    FROM step s JOIN d ON s.doc_id = d.doc_id
        |    WHERE s.pos < d.n) x),
        |ch AS (
        |  SELECT doc_id, start, pos FROM step WHERE cut
        |  UNION ALL
        |  SELECT s.doc_id, s.start, s.pos
        |  FROM step s JOIN d ON s.doc_id = d.doc_id
        |  WHERE s.pos = d.n AND NOT s.cut AND d.n > 0),
        |hx AS (
        |  SELECT d.source, pos - start + 1 AS len,
        |    md5(substr(d.text, CAST(start AS INTEGER),
        |               CAST(pos - start + 1 AS INTEGER))) AS hash
        |  FROM ch JOIN d ON ch.doc_id = d.doc_id),
        |lvl1 AS (
        |  SELECT source, hash, count(*) AS c, sum(len) AS ls
        |  FROM hx GROUP BY source, hash)
        |SELECT source,
        |  CAST(sum(c) AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS distinct_chunks,
        |  CAST(sum(ls) AS BIGINT) AS total_cps,
        |  CAST((sum(c) - count(*)) * 1000 // sum(c) AS BIGINT) AS dup_chunk_permille
        |FROM lvl1 GROUP BY source ORDER BY source""".stripMargin,

    // q122: the q46 closure, singletons re-attached by left join, then the
    // same (score DESC, id) survivor window.
    "q122_near_dup_keep_best" ->
      """WITH RECURSIVE t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
        |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u),
        |c AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |allc AS (
        |  SELECT d.doc_id AS id, coalesce(c.component, d.doc_id) AS component,
        |    (d.doc_id * 7) % 100 AS score
        |  FROM documents d LEFT JOIN c ON d.doc_id = c.id),
        |r AS (
        |  SELECT id, component, score,
        |    row_number() OVER (PARTITION BY component ORDER BY score DESC, id) AS rn,
        |    count(*) OVER (PARTITION BY component) AS cluster_size
        |  FROM allc)
        |SELECT CAST(id AS BIGINT) AS rep_id, CAST(component AS BIGINT) AS component,
        |  CAST(cluster_size AS BIGINT) AS cluster_size, CAST(score AS BIGINT) AS score
        |FROM r WHERE rn = 1 ORDER BY component""".stripMargin,

    // q120: the same planted URLs, whitespace-bounded extraction, and a
    // host regex equivalent to parse_url's authority parse on them.
    "q120_link_domains" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' see https://host' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example' || CAST(doc_id % 3 AS VARCHAR)
        |      || '.com/p/' || CAST(doc_id AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0
        |              THEN ' and http://mirror' || CAST(doc_id % 5 AS VARCHAR)
        |                   || '.example.org/x'
        |              ELSE '' END AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
        |  FROM p),
        |h AS (
        |  SELECT doc_id, regexp_extract(url, '^https?://([^/?#]+)', 1) AS domain
        |  FROM u),
        |g AS (SELECT domain, doc_id, count(*) AS c FROM h GROUP BY 1, 2)
        |SELECT domain, CAST(sum(c) AS BIGINT) AS n_links,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM g GROUP BY domain ORDER BY domain""".stripMargin,

    // q121: the q46 recursive-CTE transitive closure, aggregated into the
    // cluster-size histogram.
    "q121_dup_cluster_sizes" ->
      """WITH RECURSIVE t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
        |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u),
        |c AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |s AS (SELECT component, count(*) AS cluster_size FROM c GROUP BY component)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
        |FROM s GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // q119: the Hamilton apportionment replayed in HUGEINT arithmetic —
    // floor quotas, largest-remainder top-ups with key-asc ties — then the
    // same salted md5-bucket window rank picks the winners.
    "q119_stratified_sample" ->
      """WITH n AS (
        |  SELECT lang, count(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang),
        |tot AS (SELECT sum(n) AS nt FROM n),
        |q AS (
        |  SELECT lang, n,
        |    (100::HUGEINT * n) // nt AS base, (100::HUGEINT * n) % nt AS rem
        |  FROM n, tot),
        |r AS (
        |  SELECT lang, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |    (SELECT 100 - sum(base) FROM q) AS leftover
        |  FROM q),
        |a AS (
        |  SELECT lang,
        |    base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
        |  FROM r),
        |ranked AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'alloc1'), 25, 8))::BIGINT
        |                  % 1000000,
        |               doc_id) AS rnk
        |  FROM documents)
        |SELECT ranked.lang,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM ranked JOIN a ON ranked.lang = a.lang
        |WHERE rnk <= alloc
        |GROUP BY ranked.lang ORDER BY ranked.lang""".stripMargin,

    // q118: the same (freq DESC, token ASC) top-500 vocabulary replayed,
    // then per-source OOV occurrence counts on token strings (Spark tests
    // membership on 60-bit md5 hashes — equal up to md5 collisions).
    "q118_oov_coverage" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS v
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |vocab AS (
        |  SELECT v FROM tok GROUP BY v
        |  ORDER BY count(*) DESC, v LIMIT 500)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS total_tokens,
        |  CAST(count(*) FILTER (WHERE v NOT IN (SELECT v FROM vocab))
        |    AS BIGINT) AS oov_tokens,
        |  CAST(count(*) FILTER (WHERE v NOT IN (SELECT v FROM vocab)) * 1000
        |    // count(*) AS BIGINT) AS oov_permille
        |FROM tok GROUP BY source ORDER BY source""".stripMargin,

    // q117: tokens and consecutive bigrams unnested per source, distinct
    // and total counts, same integer-permille DIV arithmetic.
    "q117_lexical_diversity" ->
      """WITH t AS (
        |  SELECT source, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |tok AS (SELECT source, unnest(l) AS v FROM t),
        |bg AS (
        |  SELECT source,
        |    unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i + 1])) AS v
        |  FROM t),
        |ta AS (SELECT source, count(*) AS total_tokens,
        |         count(DISTINCT v) AS distinct_tokens FROM tok GROUP BY source),
        |ba AS (SELECT source, count(*) AS total_bigrams,
        |         count(DISTINCT v) AS distinct_bigrams FROM bg GROUP BY source)
        |SELECT ta.source,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  CAST(distinct_tokens AS BIGINT) AS distinct_tokens,
        |  CAST(distinct_tokens * 1000 // total_tokens AS BIGINT) AS ttr_permille,
        |  CAST(total_bigrams AS BIGINT) AS total_bigrams,
        |  CAST(distinct_bigrams AS BIGINT) AS distinct_bigrams,
        |  CAST(distinct_bigrams * 1000 // total_bigrams AS BIGINT)
        |    AS bigram_ttr_permille
        |FROM ta LEFT JOIN ba ON ta.source = ba.source
        |ORDER BY ta.source""".stripMargin,

    // q116: both batch assignments replayed as row_number windows over the
    // identical (id, md5) tie order, then the same per-batch max·count
    // padding arithmetic in exact integers.
    "q116_padding_waste" ->
      """WITH base AS (
        |  SELECT doc_id AS id, source AS shard,
        |    CASE WHEN text IS NULL OR len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    md5(coalesce(text, '')) AS tb
        |  FROM documents),
        |a AS (
        |  SELECT shard, n_tokens,
        |    (row_number() OVER (PARTITION BY shard ORDER BY id, tb) - 1) // 16 AS batch
        |  FROM base),
        |s AS (
        |  SELECT shard, n_tokens,
        |    (row_number() OVER (PARTITION BY shard ORDER BY n_tokens, id, tb) - 1) // 16 AS batch
        |  FROM base),
        |ab AS (SELECT shard, batch, count(*) AS bn, sum(n_tokens) AS bt,
        |         max(n_tokens) AS bm FROM a GROUP BY shard, batch),
        |sb AS (SELECT shard, batch, count(*) AS bn, sum(n_tokens) AS bt,
        |         max(n_tokens) AS bm FROM s GROUP BY shard, batch),
        |u AS (
        |  SELECT shard, 'arrival' AS strategy, sum(bn) AS n_docs,
        |    count(*) AS n_batches, sum(bt) AS total_tokens,
        |    sum(bm * bn) AS padded_tokens
        |  FROM ab GROUP BY shard
        |  UNION ALL
        |  SELECT shard, 'sorted', sum(bn), count(*), sum(bt), sum(bm * bn)
        |  FROM sb GROUP BY shard)
        |SELECT shard, strategy, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_batches AS BIGINT) AS n_batches,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  CAST(padded_tokens AS BIGINT) AS padded_tokens,
        |  CAST(CASE WHEN padded_tokens = 0 THEN 0
        |       ELSE (padded_tokens - total_tokens) * 1000 // padded_tokens
        |       END AS BIGINT) AS waste_permille
        |FROM u ORDER BY shard, strategy""".stripMargin,

    // q115: the q49 bucket arithmetic assigns the planted corpus, then the
    // q83 overlap shape counts distinct contents shared across splits.
    "q115_split_leakage" ->
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 11 = 0),
        |b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'seed42'), 25, 8))::BIGINT
        |      % 1000000 AS bucket
        |  FROM docs2),
        |a AS (
        |  SELECT text,
        |    CASE WHEN bucket < 800000 THEN 'train'
        |         WHEN bucket < 900000 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b),
        |d AS (SELECT DISTINCT split, md5(text) AS dg FROM a WHERE text IS NOT NULL)
        |SELECT x.split AS src_a, y.split AS src_b,
        |  CAST(count(*) AS BIGINT) AS shared_contents
        |FROM d x JOIN d y ON x.dg = y.dg AND x.split < y.split
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q114: the q50 string-gram machinery with suite labels — distinct
    // (suite, doc) matches counted per suite.
    "q114_suite_contamination" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks) - 4),
        |                i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
        |    END) AS gram
        |  FROM w),
        |bench AS (
        |  SELECT DISTINCT 'suite' || CAST(doc_id % 3 AS VARCHAR) AS suite, gram
        |  FROM g WHERE doc_id % 37 = 0),
        |hits AS (
        |  SELECT DISTINCT b.suite, g.doc_id
        |  FROM g JOIN bench b USING (gram))
        |SELECT suite, CAST(count(*) AS BIGINT) AS contaminated_docs
        |FROM hits GROUP BY suite ORDER BY suite""".stripMargin,

    // q113: the stored-model scoring replayed — train-side counts from the
    // even split only, back-off via coalesce over the same three tiers.
    "q113_lm_from_model" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS c1
        |  FROM (SELECT unnest(toks) AS w FROM tk WHERE doc_id % 2 = 0) GROUP BY w),
        |v AS (SELECT count(*) AS v FROM uni),
        |occ_t AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM tk WHERE doc_id % 2 = 0 AND len(toks) >= 2),
        |bi AS (SELECT bg, count(*) AS c2 FROM occ_t GROUP BY bg),
        |bscore AS (
        |  SELECT bg,
        |    CAST(round(ln((c2 + 1) / CAST(c1 + v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS t_bg
        |  FROM bi JOIN uni ON uni.w = split_part(bi.bg, ' ', 1) CROSS JOIN v),
        |uscore AS (
        |  SELECT w,
        |    CAST(round(ln(1.0 / CAST(c1 + v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS t_w1
        |  FROM uni CROSS JOIN v),
        |dflt AS (
        |  SELECT CAST(round(ln(1.0 / CAST(v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS t_def
        |  FROM v),
        |pocc AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM tk WHERE doc_id % 2 = 1 AND len(toks) >= 2),
        |terms AS (
        |  SELECT p.doc_id, coalesce(b.t_bg, u.t_w1, d.t_def) AS t
        |  FROM pocc p
        |  LEFT JOIN bscore b USING (bg)
        |  LEFT JOIN uscore u ON u.w = split_part(p.bg, ' ', 1)
        |  CROSS JOIN dflt d),
        |doc AS (
        |  SELECT doc_id, CAST(sum(t) // count(*) AS BIGINT) AS lm_score_micronats,
        |    count(*) AS n_bigrams
        |  FROM terms GROUP BY doc_id)
        |SELECT d.doc_id, doc.lm_score_micronats, doc.n_bigrams
        |FROM documents d LEFT JOIN doc ON doc.doc_id = d.doc_id
        |WHERE d.doc_id % 2 = 1""".stripMargin,

    // q111: the q66 recursive greedy replay, aggregated per shard.
    "q111_packing_report" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id AS id, source AS shard,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id, md5(coalesce(text, ''))) AS rn
        |  FROM documents),
        |g AS (
        |  SELECT id, shard, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS seq_idx, n_tokens AS used
        |  FROM tok WHERE rn = 1
        |  UNION ALL
        |  SELECT t.id, t.shard, t.n_tokens, t.rn,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN g.seq_idx + 1 ELSE g.seq_idx END,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN t.n_tokens ELSE g.used + t.n_tokens END
        |  FROM g JOIN tok t ON t.shard = g.shard AND t.rn = g.rn + 1)
        |SELECT shard,
        |  CAST(count(DISTINCT seq_idx) AS BIGINT) AS n_seqs,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_tokens) * 1000 // (count(DISTINCT seq_idx) * 128) AS BIGINT)
        |    AS fill_permille
        |FROM g GROUP BY shard ORDER BY shard""".stripMargin,

    // q112: the q73 histogram quantile rule with PARTITION BY source.
    "q112_source_quantiles" ->
      """WITH t AS (
        |  SELECT source, CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tc
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT source, tc, count(*) AS c FROM t GROUP BY source, tc),
        |cum AS (
        |  SELECT source, tc,
        |    sum(c) OVER (PARTITION BY source ORDER BY tc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n
        |  FROM h)
        |SELECT source, CAST(p AS BIGINT) AS p_permille,
        |       CAST(min(tc) AS BIGINT) AS token_count
        |FROM cum, (SELECT unnest([250, 500, 750, 900]) AS p) ps
        |WHERE cum >= (p * n + 999) // 1000
        |GROUP BY source, p ORDER BY source, p""".stripMargin,

    // q109: the q50 string-gram machinery, counting instead of deciding —
    // per-doc distinct grams, eval hits, and exact integer permille.
    "q109_eval_overlap" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks) - 4),
        |                i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
        |    END) AS gram
        |  FROM w),
        |cnt AS (
        |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams,
        |    CAST(sum(CASE WHEN gram IN (SELECT gram FROM g WHERE doc_id % 37 = 0)
        |             THEN 1 ELSE 0 END) AS INTEGER) AS overlap_grams
        |  FROM g GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(c.n_grams, 0) AS n_grams,
        |  coalesce(c.overlap_grams, 0) AS overlap_grams,
        |  CASE WHEN c.n_grams IS NULL THEN NULL
        |       ELSE CAST(c.overlap_grams * 1000 // c.n_grams AS BIGINT) END
        |    AS overlap_permille
        |FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id""".stripMargin,

    // q110: json_extract_string replays the from_json field extraction.
    "q110_json_props" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q108: distinct (source, md5) sets per version, full-outer classify —
    // the same edit/drop filters replayed verbatim.
    "q108_corpus_diff" ->
      """WITH v1 AS (
        |  SELECT DISTINCT source, md5(text) AS dg FROM documents
        |  WHERE doc_id % 10 <> 0 AND text IS NOT NULL),
        |v2 AS (
        |  SELECT DISTINCT source,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS dg
        |  FROM documents WHERE doc_id % 7 <> 0 AND text IS NOT NULL),
        |j AS (
        |  SELECT coalesce(a.source, b.source) AS source, a.dg AS adg, b.dg AS bdg
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.source = b.source AND a.dg = b.dg)
        |SELECT source,
        |  CAST(sum(CASE WHEN adg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS added,
        |  CAST(sum(CASE WHEN bdg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed,
        |  CAST(sum(CASE WHEN adg IS NOT NULL AND bdg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // q107: the whole bigram model replayed — occurrence lists, add-one
    // smoothed per-distinct-bigram micro-nat terms (same round-before-sum
    // convention as q57's rank seam), integer mean via truncating //
    // (DuckDB // truncates toward zero for integers, matching Spark DIV).
    "q107_bigram_lm" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM tk WHERE len(toks) >= 2),
        |uni AS (
        |  SELECT w, count(*) AS c1
        |  FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w),
        |v AS (SELECT count(*) AS v FROM uni),
        |bi AS (SELECT bg, count(*) AS c2 FROM occ GROUP BY bg),
        |score AS (
        |  SELECT bg,
        |    CAST(round(ln((c2 + 1) / CAST(c1 + v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS term_micro
        |  FROM bi JOIN uni ON uni.w = split_part(bi.bg, ' ', 1) CROSS JOIN v),
        |doc AS (
        |  SELECT occ.doc_id,
        |    CAST(sum(term_micro) // count(*) AS BIGINT) AS lm_score_micronats,
        |    count(*) AS n_bigrams
        |  FROM occ JOIN score USING (bg) GROUP BY occ.doc_id)
        |SELECT d.doc_id, doc.lm_score_micronats, doc.n_bigrams
        |FROM documents d LEFT JOIN doc ON doc.doc_id = d.doc_id""".stripMargin,

    // q102: the per-lang bottom-64 rule once; merged and direct must both
    // equal it (the sketch set rule is associative).
    "q102_kmv_ledger" ->
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
        |FROM est ORDER BY lang""".stripMargin,

    // q101: plain SQL over the two surviving partitions.
    "q101_partitioned_layout" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT)
        |    AS tokens
        |FROM documents WHERE source IN ('src3', 'src7')
        |GROUP BY source ORDER BY source""".stripMargin,

    // q100: q88's hash + pair replay, then the q46-style recursive-CTE
    // transitive closure and a min-id representative per image.
    "q100_image_dedup_e2e" ->
      """WITH RECURSIVE p AS (
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
        |  SELECT doc_id, printf('%08x%08x', hi, lo) AS ahash, hi, lo FROM hs
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
        |ORDER BY d.doc_id""".stripMargin,

    // q99: the plain join — bucketing changes the plan, never the rows.
    "q99_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q96: vocabulary rank permille + per-doc integer mean, replayed with
    // the same rank()/DIV arithmetic.
    "q96_token_rarity" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |), vocab AS (
        |  SELECT token, count(*) AS cf FROM tk GROUP BY token
        |), ranked AS (
        |  SELECT token,
        |    ((rank() OVER (ORDER BY cf DESC) - 1) * 1000)
        |      // greatest(count(*) OVER () - 1, 1) AS rarity_permille
        |  FROM vocab
        |), scored AS (
        |  SELECT tk.doc_id,
        |    CAST(sum(r.rarity_permille) // count(*) AS BIGINT)
        |      AS mean_rarity_permille
        |  FROM tk JOIN ranked r ON tk.token = r.token
        |  GROUP BY tk.doc_id
        |)
        |SELECT d.doc_id, s.mean_rarity_permille
        |FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // q97: explode + signed bucket sums + grid reassembly in bucket order,
    // same md5 arithmetic.
    "q97_hash_embed" ->
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
        |FROM grid GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q98: keep-first line dedup replayed with ordinality windows (DuckDB
    // list_distinct does not preserve order, so the oracle can't use it).
    "q98_within_doc_dedup" ->
      """WITH corpus AS (
        |  SELECT d1.doc_id,
        |    d1.text || chr(10) || d2.text || chr(10) || d1.text AS text
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id % 10
        |), parts AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus
        |), lines AS (
        |  SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos,
        |         unnest(ls) AS line
        |  FROM parts
        |), firsts AS (
        |  SELECT doc_id, pos, line,
        |    row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
        |  FROM lines
        |)
        |SELECT doc_id,
        |  string_agg(line, chr(10) ORDER BY pos) AS cleaned
        |FROM firsts WHERE rn = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q94: same stage CTEs as q55, emitted as a per-doc first-drop CASE.
    "q94_curation_audit" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text, source FROM documents
        |  WHERE doc_id % 20 = 0
        |), tok AS (
        |  SELECT doc_id, text, source,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tc,
        |    CASE WHEN len(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE) / len(text) END AS pr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['the','and','of','to','is','a'], t))) AS en,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['el','la','los','las','es','y'], t))) AS es,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['le','la','les','est','et','une'], t))) AS fr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> list_contains(['der','die','das','ist','und','ein'], t))) AS de
        |  FROM corpus),
        |f AS (
        |  SELECT doc_id, text, source, tc FROM tok
        |  WHERE en >= es AND en >= fr AND en >= de AND en > 0
        |    AND tc >= 30 AND pr < 0.1),
        |dd AS (
        |  SELECT doc_id FROM (
        |    SELECT f.doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM f)
        |  WHERE rn = 1),
        |w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
        |  FROM corpus),
        |g AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks) - 4),
        |                i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
        |    END) AS gram
        |  FROM w),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM g
        |  WHERE gram IN (SELECT gram FROM g WHERE doc_id % 37 = 0)),
        |clean AS (
        |  SELECT dd.doc_id, f.source FROM dd JOIN f USING (doc_id)
        |  WHERE dd.doc_id NOT IN (SELECT doc_id FROM bad)),
        |capped AS (
        |  SELECT doc_id FROM (
        |    SELECT clean.doc_id, row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cap6'), 25, 8))::BIGINT
        |                  % 1000000,
        |               doc_id) AS rk
        |    FROM clean)
        |  WHERE rk <= 10)
        |SELECT t.doc_id,
        |  CASE WHEN NOT (t.en >= t.es AND t.en >= t.fr AND t.en >= t.de AND t.en > 0)
        |         THEN 'lang'
        |       WHEN NOT (t.tc >= 30 AND t.pr < 0.1) THEN 'quality'
        |       WHEN dd.doc_id IS NULL THEN 'duplicate'
        |       WHEN clean.doc_id IS NULL THEN 'contaminated'
        |       WHEN capped.doc_id IS NULL THEN 'capped'
        |       ELSE 'kept' END AS verdict
        |FROM tok t
        |LEFT JOIN dd ON dd.doc_id = t.doc_id
        |LEFT JOIN clean ON clean.doc_id = t.doc_id
        |LEFT JOIN capped ON capped.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // q92: same rank()/count() windows and integer DIV permille.
    "q92_score_calibration" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tc
        |  FROM documents
        |)
        |SELECT doc_id, source, tc,
        |  ((rank() OVER (PARTITION BY source ORDER BY tc NULLS FIRST) - 1)
        |   * 1000)
        |    // greatest(count(*) OVER (PARTITION BY source) - 1, 1)
        |    AS score_permille
        |FROM d ORDER BY doc_id""".stripMargin
  )

  /**
   * Full DuckDB replay of q33's IVF pipeline, closing the last no-oracle
   * row: deterministic k-means (id-ordered 4096 sample, evenly-strided
   * seeding, 10 Lloyd iterations UNROLLED as chained CTEs — recursive CTEs
   * can't re-aggregate), then replica-3 corpus assignment, 12-probe query
   * expansion, and exact cosine rerank to top-5 (sim desc, id asc; max()
   * dedups pairs that meet in several probed cells, mirroring the
   * distinct-ids heap). Mirrors `Similarity.ivfTopK`/`kmeansCentroids`
   * arithmetic: float->double widening is exact in both engines, and the
   * output is pure integer ids, so the ulp-level summation-order noise
   * between engines would have to land a vector EXACTLY on an argmax
   * boundary to flip a row (verified exact at sf0.001/0.01/0.1).
   * MATERIALIZED pins each chained CTE — inlining would re-evaluate each
   * level once per reference, going exponential over 10 iterations.
   * Constants here mirror q33's call: nlist=32, nprobe=12, replicas=3,
   * k=5, budget cap 4096, dim<=4096.
   */
  /** q62's full oracle, shared with q79's streaming wrapper. */
  /** The q191 full-feed SCD2 rebuild — shared verbatim with q216, whose
    * incremental merge must equal it. */
  private val scd2OracleSql: String =
      """WITH ch AS (
        |  SELECT user_id, ts, event_id,
        |    ((CAST(round(value * 1e6) AS BIGINT) % 5) + 5) % 5 AS tier
        |  FROM events WHERE event_type = 'signup'),
        |f AS (
        |  SELECT user_id, ts, event_id, tier,
        |    row_number() OVER w AS rn,
        |    lag(tier) OVER w AS prev
        |  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |k AS (SELECT user_id, ts, event_id, tier FROM f
        |      WHERE rn = 1 OR tier IS DISTINCT FROM prev)
        |SELECT user_id, tier, ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  lead(ts) OVER w2 IS NULL AS is_current
        |FROM k WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from""".stripMargin

  /** The q62 quality-stat CTE chain, parameterized by the source CTE —
    * shared by the standalone gates (over `documents`) and the q215
    * funnel (over the stripped corpus). */
  private def qualityStatsCtes(src: String): String =
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
  private val qualityKeepSql: String =
    "NOT (tc < 20 OR tc > 100000 OR mwl < 3.0 OR mwl > 10.0 " +
      "OR pr > 0.2 OR sr < 0.02 OR dlf > 0.3)"

  private val qualityOracleSql: String =
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

  /** q142 oracle: the q136 planted-graph CTEs, then per iteration a
    * dangling-mass CTE (exact sink sum over the previous ranks) feeding
    * the rank recurrence's `+ d div n` term — generated as a chain so
    * the iteration count stays in one place. */
  private def pagerankRedistOracleSql: String = {
    val prefix =
      """WITH p AS (
        |  SELECT doc_id, source,
        |    text || ' see https://host' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example' || CAST(doc_id % 3 AS VARCHAR)
        |      || '.com/p/' || CAST(doc_id AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0
        |              THEN ' and http://mirror' || CAST(doc_id % 5 AS VARCHAR)
        |                   || '.example.org/x'
        |              ELSE '' END AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, source,
        |    unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
        |  FROM p),
        |ed AS (
        |  SELECT DISTINCT source AS src,
        |    regexp_extract(url, '^https?://([^/?#]+)', 1) AS dst
        |  FROM u),
        |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
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

  /** q154 oracle: posting statistics from the corpus, then the SAME
    * per-(term, doc) contribution SQL the Spark plan evaluates —
    * [[graft.pipeline.Search.bm25ContributionSql]] is interpolated
    * verbatim, so the two engines cannot drift on the arithmetic. */
  private def bm25OracleSql: String = {
    val contrib = graft.pipeline.Search.bm25ContributionSql(1200000L, 750000L)
    s"""WITH allt AS (
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
       |  FROM j GROUP BY doc_id)
       |SELECT CAST(doc_id AS BIGINT) AS id, score_micro
       |FROM sc ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin
  }

  /** q244 oracle: the [[bm25OracleSql]] CTE chain re-used up to the
    * per-doc score, a dense squared-L2 ranking on the q97 hash-embed
    * grid (query vector = the same 4 search terms through the same md5
    * bucket/sign arithmetic), and the RRF fusion
    * Σ 10⁶ // (60 + rank) with rank 0 encoding list absence — every
    * stage integer, every tie rule (score desc / d2 asc / rrf desc,
    * then doc_id) replayed verbatim. */
  private def hybridRrfOracleSql: String = {
    val contrib = graft.pipeline.Search.bm25ContributionSql(1200000L, 750000L)
    s"""WITH allt AS (
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
       |  FROM j GROUP BY doc_id),
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

  /** q156 oracle: the q136/q142 planted-graph CTEs with a
    * seed-conditional base — teleport mass returns to the source nodes
    * only, |S| = seeds surviving the node intersection. */
  private def personalizedPagerankOracleSql: String = {
    val prefix =
      """WITH p AS (
        |  SELECT doc_id, source,
        |    text || ' see https://host' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example' || CAST(doc_id % 3 AS VARCHAR)
        |      || '.com/p/' || CAST(doc_id AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0
        |              THEN ' and http://mirror' || CAST(doc_id % 5 AS VARCHAR)
        |                   || '.example.org/x'
        |              ELSE '' END AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, source,
        |    unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
        |  FROM p),
        |ed AS (
        |  SELECT DISTINCT source AS src,
        |    regexp_extract(url, '^https?://([^/?#]+)', 1) AS dst
        |  FROM u),
        |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
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

  /** q199: co-occurrence edge CTEs + the q136 integer-PageRank iteration
    * form, generated. */
  /** q218: [[graft.pipeline.Graph.pageRankWeighted]]'s recurrence over
    * the q175 planted graph with weights 1 + (src+dst) % 7 — per-source
    * truncating per-unit quotient, exact integer edge scaling, one CTE
    * per iteration. */
  private def weightedPageRankOracleSql: String = {
    val prefix =
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |raw AS (
        |  SELECT id AS src, id + 1 AS dst FROM ids WHERE (id + 1) // 10 = id // 10
        |  UNION ALL
        |  SELECT id, id + 2 FROM ids WHERE (id + 2) // 10 = id // 10
        |  UNION ALL
        |  SELECT id, (id // 100) * 100 FROM ids WHERE id % 100 <> 0),
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

  private def textRankOracleSql: String = {
    val prefix =
      """WITH tk AS (
        |  SELECT CASE WHEN text IS NULL OR trim(text) = ''
        |       THEN CAST([] AS VARCHAR[])
        |       ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |bp AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> {'a': toks[i], 'b': toks[i + 1]})) AS p
        |  FROM tk WHERE len(toks) >= 2),
        |tf AS (SELECT w, count(*) AS cnt
        |       FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w),
        |keep AS (SELECT w FROM tf WHERE cnt >= 50),
        |e0 AS (
        |  SELECT DISTINCT p.a AS src, p.b AS dst FROM bp
        |  WHERE p.a <> p.b AND p.a IN (SELECT w FROM keep)
        |    AND p.b IN (SELECT w FROM keep)),
        |ed AS (SELECT DISTINCT src, dst FROM (
        |         SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
        |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
        |       FROM ed GROUP BY 1),
        |cn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, cn)""".stripMargin
    val iters = (1 to 5).map { i =>
      val prev = if (i == 1) "r0" else s"i${i - 1}"
      s""",
         |i$i AS (
         |  SELECT nx.node, (150 * (1000000000000 // cn.n)) // 1000
         |    + (850 * coalesce(s.acc, 0)) // 1000 AS r
         |  FROM nodes nx CROSS JOIN cn LEFT JOIN (
         |    SELECT ed.dst AS node, CAST(sum(pr.r // od.outdeg) AS BIGINT) AS acc
         |    FROM $prev pr JOIN od ON pr.node = od.node
         |    JOIN ed ON ed.src = pr.node
         |    GROUP BY ed.dst) s ON s.node = nx.node)""".stripMargin
    }.mkString
    prefix + iters +
      """
        |SELECT node, r AS rank_ppt FROM i5
        |ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  /** q192: the q175 planted-graph CTEs + one (degree-filter, edge-filter)
    * CTE pair per peel round — the fixed-rounds contract the Spark side
    * runs. */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val prefix =
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |raw AS (
        |  SELECT id AS src, id + 1 AS dst FROM ids WHERE (id + 1) // 10 = id // 10
        |  UNION ALL
        |  SELECT id, id + 2 FROM ids WHERE (id + 2) // 10 = id // 10
        |  UNION ALL
        |  SELECT id, (id // 100) * 100 FROM ids WHERE id % 100 <> 0),
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
      """WITH p AS (
        |  SELECT doc_id, source,
        |    text || ' see https://host' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example' || CAST(doc_id % 3 AS VARCHAR)
        |      || '.com/p/' || CAST(doc_id AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0
        |              THEN ' and http://mirror' || CAST(doc_id % 5 AS VARCHAR)
        |                   || '.example.org/x'
        |              ELSE '' END AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, source,
        |    unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
        |  FROM p),
        |ed AS (
        |  SELECT DISTINCT source AS src,
        |    regexp_extract(url, '^https?://([^/?#]+)', 1) AS dst
        |  FROM u),
        |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
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

  /** q146/q153 oracle: the per-source even-vs-odd JS divergence — the
    * aligned count table via FILTER, one rounded ln per (token, side),
    * HUGEINT-exact weighted sums, truncating `//` at every seam. q153's
    * streamed counts are additive, so the same SQL gates both. */
  private def jsDivergenceOracleSql: String =
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
  private def bpeTrainCtes(k: Int): String = {
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

  private def bpeOracleSql: String = {
    val select = (1 to 8).map(i =>
      s"SELECT $i AS merge_rank, a AS lhs, b AS rhs, wgt AS weight FROM m$i")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY merge_rank")
    "WITH " + bpeTrainCtes(8) + select
  }

  /** The BPE ENCODE CTE chain: corpus words (tok), the distinct-word
    * vocabulary re-encoded by replaying merges m1..mK in rank order
    * (v0..vK — the identical literal replace the trainer used), per-word
    * subword counts (enc), and per-doc totals (dc). Extends
    * [[bpeTrainCtes]]; no leading WITH. */
  private def bpeEncodeCtes(k: Int): String = {
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

  /** q157 oracle: merges re-derived by the training CTEs, the encode
    * chain applied to the distinct-word vocabulary, per-doc subword
    * totals joined back to every document (tokenless docs count 0). */
  private def bpeEncodeOracleSql: String =
    "WITH " + bpeEncodeCtes(8) +
      """
        |SELECT d.doc_id, coalesce(dc.bt, CAST(0 AS BIGINT)) AS bpe_tokens
        |FROM documents d LEFT JOIN dc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin

  /** q158 oracle: the q63 greedy-packing recursive recurrence, fed by
    * REAL subword counts from the BPE encode chain instead of the
    * whitespace estimate. Same (doc_id, md5(text)) shard order, same
    * overflow rule. */
  private def bpePackOracleSql: String =
    "WITH RECURSIVE " + bpeEncodeCtes(8) +
      """,
        |tokc AS (
        |  SELECT d.doc_id AS id, d.source AS shard,
        |    coalesce(dc.bt, CAST(0 AS BIGINT)) AS n_tokens,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY d.doc_id, md5(coalesce(d.text, ''))) AS rn
        |  FROM documents d LEFT JOIN dc USING (doc_id)),
        |g AS (
        |  SELECT id, shard, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS seq_idx, n_tokens AS used
        |  FROM tokc WHERE rn = 1
        |  UNION ALL
        |  SELECT t.id, t.shard, t.n_tokens, t.rn,
        |    CASE WHEN g.used + t.n_tokens > 256 THEN g.seq_idx + 1 ELSE g.seq_idx END,
        |    CASE WHEN g.used + t.n_tokens > 256 THEN t.n_tokens ELSE g.used + t.n_tokens END
        |  FROM g JOIN tokc t ON t.shard = g.shard AND t.rn = g.rn + 1)
        |SELECT id, shard, n_tokens, seq_idx FROM g ORDER BY shard, id""".stripMargin

  private def asofOracleSql: String =
    """WITH c AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |v AS (
      |  SELECT user_id, ts, max(value) AS value
      |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
      |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
      |  coalesce(epoch_us(v.ts), -1) AS matched_ts,
      |  coalesce(v.value, -1.0) AS matched_value
      |FROM c ASOF LEFT JOIN v
      |  ON c.user_id = v.user_id AND c.ts >= v.ts
      |ORDER BY c.event_id""".stripMargin

  /** q232: the whole retrieval lifecycle replayed from shared fragments —
    * q53's chunk CTEs, q97's hash-embed CTEs (dim 16), the q204 Lloyd
    * iteration chain over the chunk embeddings via [[lloydIterOracleCtes]],
    * the q33-shaped nprobe=2 cell probe, and the q196 exact-hit read. All
    * integer, so every rank replays bit-for-bit. */
  private def retrievalLifecycleOracleSql: String =
    s"""WITH w AS (
      |  SELECT doc_id,
      |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\\s+') END AS toks
      |  FROM documents),
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
      |${lloydIterOracleCtes(k = 8, iters = 2, seed = "rl")},
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

  /** Shared replay prefix for every gate probing the stored SemDeDup
    * survivor index (q248/q251/q255): fit (two-level CTEs), full-corpus
    * serve (ssh/saf), within-cluster cosine closure -> `idx` =
    * (cluster, id, v) survivors. Callers append their own batch CTEs. */
  private def semDeDupIdxCtes: String =
      s"""${embeddingsExCte},
        |${twoLevelOracleCtes(kc = 3, kf = 3, itersC = 2, itersF = 2,
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
  private def semDeDupIncrementalOracleSql: String =
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

  /** q255: the SEQUENTIAL replay of the admitting frontier — idx0 is
    * q248's survivor index, then each wave w assigns through the frozen
    * model (wsh/waf), pairs against idx{w−1} (hit{w} — the drop
    * decisions), and idx{w} admits the wave's zero-hit rows. Waves 2/4
    * repeat waves 1/3's vectors at new ids, so their hits point at
    * wave-1/3 ADMISSIONS — rows no frozen-index replay could produce;
    * order-dependence is the contract, exactly the q74/q171 incremental
    * ledger convention on the semantic side. */
  private def semDeDupAdmitOracleSql: String = {
    val waves = Seq((1, 0), (2, 0), (3, 1), (4, 1))
    val waveCtes = waves.map { case (w, m) =>
      s"""wex$w AS MATERIALIZED (
         |  SELECT vec_id + ${w}00000 AS id, p.i - 1 AS dim,
         |    CAST(round(CAST(p.x AS DOUBLE) * 1e6) AS BIGINT) AS q
         |  FROM embeddings,
         |    unnest(list_transform(list_reverse(embedding),
         |      (x, i) -> {'x': x, 'i': i})) AS t(p)
         |  WHERE vec_id % 5 = $m),
         |wemb$w AS (
         |  SELECT vec_id + ${w}00000 AS id,
         |    list_transform(list_reverse(embedding),
         |      x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings WHERE vec_id % 5 = $m),
         |wsh$w AS (
         |  SELECT id, cluster AS shard FROM (
         |    SELECT e.id, c.cluster, sum((e.q - c.c) * (e.q - c.c)) AS d2
         |    FROM wex$w e JOIN c2 c ON e.dim = c.dim
         |    GROUP BY e.id, c.cluster)
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1),
         |waf$w AS (
         |  SELECT id, CAST(shard * 3 + fcl AS INTEGER) AS cluster FROM (
         |    SELECT e.id, sh.shard, c.fcl,
         |      sum((e.q - c.c) * (e.q - c.c)) AS d2
         |    FROM wex$w e JOIN wsh$w sh USING (id)
         |    JOIN f2 c ON c.shard = sh.shard AND c.dim = e.dim
         |    GROUP BY e.id, sh.shard, c.fcl)
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, fcl) = 1),
         |hit$w AS MATERIALIZED (
         |  SELECT b.id AS batch_id, i.id AS index_id
         |  FROM waf$w b JOIN wemb$w bv ON bv.id = b.id
         |  JOIN idx${w - 1} i ON i.cluster = b.cluster
         |  WHERE list_cosine_similarity(bv.v, i.v) >= 0.42),
         |idx$w AS MATERIALIZED (
         |  SELECT cluster, id, v FROM idx${w - 1}
         |  UNION ALL
         |  SELECT b.cluster, b.id, bv.v
         |  FROM waf$w b JOIN wemb$w bv ON bv.id = b.id
         |  ANTI JOIN (SELECT DISTINCT batch_id FROM hit$w) h
         |    ON b.id = h.batch_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE ${semDeDupIdxCtes},
       |idx0 AS (SELECT cluster, id, v FROM idx),
       |$waveCtes
       |SELECT batch_id, index_id FROM (
       |  SELECT * FROM hit1 UNION ALL SELECT * FROM hit2
       |  UNION ALL SELECT * FROM hit3 UNION ALL SELECT * FROM hit4)
       |ORDER BY batch_id, index_id""".stripMargin
  }

  /** q250/q253 shared replay: Hamilton allocation, manifest,
    * instance expansion, and the recursive greedy packing whose
    * running `used` column is the in-sequence token cursor. */
  private def epochPlanPackOracleCtes: String =
      """WITH RECURSIVE wt(key, w) AS (
        |  VALUES ('en', 4), ('es', 3), ('fr', 2), ('de', 1)),
        |n AS (
        |  SELECT CAST(lang AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT n.key, n.n, CAST(coalesce(wt.w, 0) AS BIGINT) AS w,
        |    n.n::HUGEINT * coalesce(wt.w, 0) AS m
        |  FROM n LEFT JOIN wt ON n.key = wt.key),
        |tot AS (SELECT sum(m) AS mt FROM m),
        |q AS (
        |  SELECT key, n, w,
        |    CASE WHEN mt > 0 THEN (2000::HUGEINT * m) // mt ELSE 0 END AS base,
        |    CASE WHEN mt > 0 THEN (2000::HUGEINT * m) % mt ELSE 0 END AS rem
        |  FROM m, tot),
        |r0 AS (
        |  SELECT key, n, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, key) AS rk,
        |    (SELECT CASE WHEN (SELECT mt FROM tot) > 0
        |             THEN 2000 - sum(base) ELSE 0 END FROM q) AS leftover
        |  FROM q),
        |a AS (
        |  SELECT key, n,
        |    CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |      AS alloc
        |  FROM r0),
        |ranked AS (
        |  SELECT doc_id, CAST(lang AS VARCHAR) AS key,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix1'),
        |                  25, 8))::BIGINT % 1000000,
        |               doc_id) AS rnk
        |  FROM documents WHERE lang IS NOT NULL),
        |man AS (
        |  SELECT ranked.doc_id, ranked.key AS lang,
        |    CAST(a.alloc // a.n
        |      + CASE WHEN rnk <= a.alloc % a.n THEN 1 ELSE 0 END AS BIGINT)
        |      AS multiplicity
        |  FROM ranked JOIN a ON ranked.key = a.key
        |  WHERE a.alloc // a.n
        |      + CASE WHEN rnk <= a.alloc % a.n THEN 1 ELSE 0 END > 0),
        |inst AS (
        |  SELECT man.doc_id * 100000
        |      + unnest(generate_series(0, man.multiplicity - 1)) AS id,
        |    man.lang AS shard, d.text
        |  FROM man JOIN documents d ON d.doc_id = man.doc_id),
        |tok AS (
        |  SELECT id, shard,
        |    CAST(coalesce(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY shard
        |      ORDER BY id, md5(coalesce(text, ''))) AS rn
        |  FROM inst),
        |g AS (
        |  SELECT id, shard, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS seq_idx, n_tokens AS used
        |  FROM tok WHERE rn = 1
        |  UNION ALL
        |  SELECT t.id, t.shard, t.n_tokens, t.rn,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN g.seq_idx + 1 ELSE g.seq_idx END,
        |    CASE WHEN g.used + t.n_tokens > 128 THEN t.n_tokens ELSE g.used + t.n_tokens END
        |  FROM g JOIN tok t ON t.shard = g.shard AND t.rn = g.rn + 1)""".stripMargin

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
      |probes AS MATERIALIZED (
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
      |ORDER BY query_id, rank""".stripMargin
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
      |probes AS MATERIALIZED (
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
      |ORDER BY query_id, rank""".stripMargin
  }
}
