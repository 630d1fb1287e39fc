package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.xml.SparkTestSession

/**
 * Physical-plan regression guards for the curation operators: the shapes
 * below are what make them scale, and each was won against a specific
 * optimizer interaction — a regression here is a silent 2-30× slowdown
 * that correctness gates would never catch.
 */
class PlanShapeSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // range-backed, not a local Seq: ConvertToLocalRelation would eagerly
  // fold filters/projections over a LocalRelation and leave no plan to
  // inspect.
  private def docs = spark.range(0, 8)
    .select(col("id").as("doc_id"),
      concat_ws(" ", lit("alpha beta gamma delta"), col("id").cast("string"))
        .as("text"),
      (col("id") % 2).cast("string").as("source"))

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("decontaminate local path is a pure map filter: no exchange, no join") {
    val bench = docs.limit(1).select(col("text"))
    val plan = physical(
      Decontaminate.decontaminate(docs, "doc_id", "text", bench, "text", 3))
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(plan.contains("any_in_long_set"), s"membership filter missing:\n$plan")
  }

  test("bloom decontaminate corpus side is a pure map filter: no exchange, no join") {
    val bench = docs.limit(1).select(col("text"))
    val plan = physical(
      Decontaminate.bloomDecontaminate(docs, "text", bench, "text", 3, 1 << 10, 4))
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(plan.contains("any_gram_in_md5_bloom"), s"bloom filter missing:\n$plan")
  }

  test("keep-best dedup ranks with WindowGroupLimit (partial top-1 per task)") {
    // Without the group-limit pushdown every duplicate copy crosses the
    // exchange; with it each map task forwards at most one candidate per
    // content group it sees.
    val plan = physical(
      Dedup.bestExactRepresentatives(docs, "doc_id", "text", col("doc_id") % 7))
    assert(plan.contains("WindowGroupLimit"),
      s"rank pushdown lost — every copy would reach the window exchange:\n$plan")
  }

  test("incremental dedup: digest anti-join, corpus text never shuffles") {
    // The corpus side must reduce to DISTINCT digests BEFORE its exchange
    // (partial HashAggregate) and only digests may cross the wire — at
    // 100 TB the corpus text column in that shuffle would be the bottleneck.
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val plan = physical(Dedup.incrementalExactDedup(docs, corpus, "doc_id", "text"))
    assert(plan.contains("LeftAnti"), s"anti-join missing:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3, s"too many shuffles ($exchanges):\n$plan")
    // No Exchange line may carry the corpus text column — digests only.
    val shuffledText = plan.linesIterator
      .filter(_.contains("Exchange")).exists(_.contains("text"))
    assert(!shuffledText, s"corpus/batch text crosses an exchange:\n$plan")
  }

  test("corpusDiff: both sides reduce to digests before any exchange") {
    // Each version must leave its scan as distinct (group, md5) rows —
    // at 100 TB a version's text column in the diff join's shuffle would
    // dwarf the diff itself.
    val v2 = docs.filter(col("doc_id") % 3 =!= 0)
    val plan = physical(Dedup.corpusDiff(docs, v2, "text", Seq("source")))
    assert(plan.contains("FullOuter"), s"full-outer classify missing:\n$plan")
    val shuffledText = plan.linesIterator
      .filter(_.contains("Exchange")).exists(_.contains("text"))
    assert(!shuffledText, s"version text crosses an exchange:\n$plan")
  }

  test("tableProfile: hand-computed panel from ONE scan of the table") {
    val df = spark.range(0, 6).select(
      col("id"),
      when(col("id") < 4, col("id") % 2).as("dup"),      // 2 nulls, 2 distinct
      when(col("id") === 0, lit("z")).otherwise(lit("a")).as("s"))
    val out = Profile.tableProfile(df, Seq("id", "dup", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(out("id") === ((6L, 0L, 6L, "0", "5")))
    assert(out("dup") === ((6L, 2L, 2L, "0", "1")))
    assert(out("s") === ((6L, 0L, 2L, "a", "z")))
    // one scan: a per-column profiler loop would read the table N times
    val plan = Profile.tableProfile(df, Seq("id", "dup", "s"))
      .queryExecution.executedPlan.toString
    assert("Range \\(".r.findAllIn(plan).length == 1,
      s"profile must scan its input exactly once:\n$plan")
  }

  test("cdcTransferDiff: both sides reduce to chunk hashes before any exchange") {
    // The re-crawl bill joins (group, hash) rows; shuffling either
    // version's text column would move the corpus to compare hashes.
    val v2 = docs.filter(col("doc_id") % 3 =!= 0)
    val plan = physical(
      TextAnalysis.cdcTransferDiff(docs, v2, "text", Seq("source"), 4, 8, 64))
    val shuffledText = plan.linesIterator
      .filter(_.contains("Exchange")).exists(_.contains("text"))
    assert(!shuffledText, s"version text crosses an exchange:\n$plan")
    assert(plan.contains("cdc_chunks"), s"chunker missing from the scan stage:\n$plan")
  }

  test("cluster assignment is zero-shuffle map work after the centroid fit") {
    val vecs = spark.range(0, 64)
      .select(col("id").as("vec_id"),
        array((0 until 4).map(i => (col("id") * (i + 1) % 7).cast("float")): _*)
          .as("embedding"))
    val assigned = Similarity.clusterAssign(vecs, "vec_id", "embedding", nlist = 4)
    val plan = physical(assigned)
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    val rows = assigned.collect()
    assert(rows.length === 64)
    assert(rows.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 4))
    // Pure function of the vector: layout must not change any assignment.
    val re = Similarity.clusterAssign(vecs.repartition(13), "vec_id", "embedding", nlist = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.map(r => r.getLong(0) -> r.getInt(1)).toMap === re)
  }

  test("capPerKey ranks with WindowGroupLimit pushdown (partial top-k per task)") {
    val plan = physical(Sampling.capPerKey(docs, "source", 1, "doc_id"))
    assert(plan.contains("WindowGroupLimit"),
      s"rank pushdown lost — every row would reach the window exchange:\n$plan")
  }

  test("chunkByTokens does not re-run the tokenize chain in an inferred filter") {
    val plan = physical(TextAnalysis.chunkByTokens(docs, "doc_id", "text", 4, 2))
    // InferFiltersFromGenerate on a non-outer explode plants a
    // size(sequence(...split...)) > 0 filter below the Generate that
    // re-tokenizes per row; the outer-explode form must keep filters to
    // generate outputs only.
    val filterLines = plan.linesIterator.filter(_.contains("Filter")).toSeq
    assert(filterLines.forall(l => !l.contains("split(")),
      s"inferred filter re-runs tokenization:\n${filterLines.mkString("\n")}")
    assert(plan.contains("Generate"), plan)
  }

  test("span operators: gram scan never re-runs in inferred filters, no stranded repartition") {
    for (plan <- Seq(
        physical(Dedup.duplicateSpanCoverage(docs, "doc_id", "text", 3)),
        physical(Dedup.removeDuplicateSpans(docs, "doc_id", "text", 3)))) {
      // outer-explode + output-null filter keeps InferFiltersFromGenerate
      // from planting a pre-filter that re-runs the gram byte pass per row.
      val filterLines = plan.linesIterator.filter(_.contains("Filter")).toSeq
      assert(filterLines.forall(l => !l.contains("positional_hashed_ngrams(")),
        s"inferred filter re-runs the gram scan:\n${filterLines.mkString("\n")}")
      // a user repartition here gets PushDownLeftSemiAntiJoin'd below the
      // semi-join, stranding a dead exchange between join and window — the
      // operators deliberately carry none (scaladoc).
      assert(!plan.contains("REPARTITION_BY_NUM"), s"stranded repartition:\n$plan")
      // "duplicated" must stay an O(1)-state min/max decision, never a
      // count-distinct expansion.
      assert(!plan.toLowerCase.contains("distinct"), s"count-distinct crept in:\n$plan")
    }
  }

  test("ngram Jaccard emission pin is estimate-conditional") {
    // Floor-scale corpus (8 rows): the explicit repartition would be a pure
    // extra exchange — the join must plan its own, shared across the
    // self-join's sides via ReuseExchange.
    val small = physical(Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 2, 0.5))
    assert(!small.contains("REPARTITION_BY_NUM"), s"pin present at floor scale:\n$small")
    // With broadcast off (a big-corpus self-join is sort-merge), the two
    // sides must share ONE planned exchange via ReuseExchange — dropping
    // the pin must not double the shuffle work. AQE defers exchange reuse
    // to runtime stage reuse (the initial adaptive plan never shows it),
    // so the static-reuse check runs with AQE off.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val (prevT, prevA) = (spark.conf.get(thresholdKey), spark.conf.get(aqeKey))
    try {
      spark.conf.set(thresholdKey, "-1")
      spark.conf.set(aqeKey, "false")
      val smj = physical(Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 2, 0.5))
      assert(smj.contains("ReusedExchange"),
        s"self-join sides no longer share one exchange:\n$smj")
    } finally {
      spark.conf.set(thresholdKey, prevT)
      spark.conf.set(aqeKey, prevA)
    }
    // Large-estimate corpus (plan-only; nothing executes): the pin must be
    // present so AQE cannot coalesce the pair-emission stage.
    val big = spark.range(0, 100000000L)
      .select(col("id").as("doc_id"), col("id").cast("string").as("text"),
        (col("id") % 2).cast("string").as("source"))
    val bigPlan = physical(Dedup.ngramJaccardPairs(big, "doc_id", "text", "source", 2, 0.5))
    assert(bigPlan.contains("REPARTITION_BY_NUM"),
      s"emission pin lost for a large-estimate corpus:\n$bigPlan")
  }

  test("repetition and pii queries stay whole-stage map work: no exchange") {
    val rep = docs.select(
      TextAnalysis.duplicateLineFraction(col("text")),
      TextAnalysis.topNgramFraction(col("text"), 2))
    assert(!physical(rep).contains("Exchange"))
    val pii = docs.select(TextAnalysis.redactPii(col("text")),
      TextAnalysis.piiCount(col("text"), TextAnalysis.EmailPattern))
    assert(!physical(pii).contains("Exchange"))
    val qf = TextAnalysis.qualityFilter(docs, "doc_id", "text")
    assert(!physical(qf).contains("Exchange"))
  }

  test("modality pipelines are shuffle-free map work end to end") {
    // audio: binary -> batched struct decode; video: demux -> explode ->
    // per-frame decode. Both must stay Exchange-free — at 100 TB the decode
    // stage is pure per-partition CPU, and any shuffle here would move the
    // payload bytes itself.
    val wav = udf((i: Long) =>
      AudioCodec.encodeWavPcm16(8000, Array.tabulate(8)(j => (j - 4).toShort)))
    val audio = Multimodal.withBatchedStruct(
      spark.range(0, 8).select(col("id"), wav(col("id")).as("payload")),
      "payload", "af", AudioCodec.FeatureSchema, 4, AudioCodec.featureKernel)
      .select(col("id"), col("af.sum_sq"))
    assert(!physical(audio).contains("Exchange"),
      s"audio decode must not shuffle:\n${physical(audio)}")

    val vid = udf((i: Long) => VideoCodec.encodeGfv(
      Seq(ImageCodec.encodePng(2, 2, 0x123456), ImageCodec.encodePng(1, 1, 1))))
    val sampled = Multimodal.withBatchedFrames(
        spark.range(0, 8).select(col("id"), vid(col("id")).as("payload")),
        "payload", "frames", 4, VideoCodec.frameSampleKernel(2))
      .select(col("id"), posexplode_outer(col("frames")).as(Seq("pos", "frame")))
      .filter(col("frame").isNotNull)
    val video = Multimodal.withBatchedFeatures(
      sampled, "frame", 4, ImageCodec.decodeKernel)
    assert(!physical(video).contains("Exchange"),
      s"frame pipeline must not shuffle:\n${physical(video)}")
  }

  test("boilerplate removal: broadcast anti-join on the line, raw text never shuffles") {
    val plan = physical(TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", 2))
    // The frequent set is small by construction; the anti-join must build
    // on it, not shuffle the exploded corpus lines by line value.
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"frequent-line anti-join is not broadcast:\n$plan")
    // Only trimmed line keys may ride a hash exchange — never the document
    // text column itself.
    val textShuffled = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).exists(_.contains("text#"))
    assert(!textShuffled, s"document text crosses an exchange:\n$plan")
  }

  test("source overlap matrix: pair expansion is a generator, never a self-join") {
    val plan = physical(Dedup.sourceOverlapMatrix(docs, "text", "source"))
    assert(!plan.contains("Join"), s"corpus self-join crept in:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"too many shuffles ($exchanges):\n$plan")
    val textShuffled = plan.linesIterator
      .filter(_.contains("Exchange")).exists(_.contains("text#"))
    assert(!textShuffled, s"raw text crosses an exchange (digests only):\n$plan")
  }

  test("token-budget selection: every corpus-scale window is partitioned") {
    val d2 = docs.select(col("doc_id"), (col("doc_id") % 3 + 1).as("tc"),
      (col("doc_id") % 2).as("score"))
    val plan = physical(Sampling.selectByTokenBudget(d2, "doc_id", "tc", "score", 100L))
    // The corpus-side running sum must be partitioned by the score class —
    // an unpartitioned window here would funnel the corpus into one task.
    assert(plan.contains("windowspecdefinition(score"),
      s"corpus window lost its score partitioning:\n$plan")
    // The histogram's descending prefix sum must be partitioned by the
    // range bin (near-distinct scores make the histogram corpus-sized —
    // the q235 shape); the ONLY unpartitioned windows allowed are over
    // the ≤2^16-row bin-offset table.
    assert(plan.contains("windowspecdefinition(__bin"),
      s"histogram prefix sum lost its bin sharding:\n$plan")
    val unpartitionedCorpusWindows = plan.linesIterator
      .filter(_.contains("windowspecdefinition("))
      .filterNot(_.contains("windowspecdefinition(score"))
      .filterNot(_.contains("windowspecdefinition(__bin"))
      .toList
    // remaining windows: the bin-offset cumulative over bounded rows
    assert(unpartitionedCorpusWindows.size <= 1,
      s"unexpected extra window:\n$plan")
    // Single-partition exchanges: the bounded bin-offset window plus the
    // 1-row boundary reduce — neither sees corpus-scale rows.
    val singles = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(singles <= 2,
      s"too many single-partition exchanges:\n$plan")
  }

  test("oovReport scoring pass: membership scan, no corpus explode/join before the group agg") {
    val plan = physical(TextAnalysis.oovReport(docs, "text", Seq("source"), 4))
    assert(!plan.contains("Join"), s"vocab must ride as a hash table, not a join:\n$plan")
    assert(!plan.contains("Generate"), s"corpus token stream must not explode:\n$plan")
    assert(plan.contains("count_in_long_set"), s"membership scan missing:\n$plan")
    // one exchange total: the final per-group aggregate
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"scoring should shuffle only the group agg:\n$plan")
  }

  test("lexicalDiversity: no countDistinct expand; shuffles carry (group, value) partials") {
    val plan = physical(TextAnalysis.lexicalDiversity(docs, "text", Seq("source")))
    assert(!plan.contains("Expand"), s"countDistinct expand crept in:\n$plan")
  }

  test("sampleProportional broadcasts the allocation table; corpus shuffles once by key") {
    val df = spark.range(0, 64)
      .select(col("id"), (col("id") % 4).cast("string").as("key"))
    val plan = physical(Sampling.sampleProportional(df, "key", "id", 16, "s"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop") ||
      plan.contains("BroadcastExchange"),
      s"allocation table should broadcast, not shuffle the corpus:\n$plan")
    // the corpus-side exchanges: one hashpartitioning by key for the window
    val corpusShuffles = "Exchange hashpartitioning\\(key".r.findAllIn(plan).length
    assert(corpusShuffles <= 1, s"corpus must shuffle once on the key:\n$plan")
  }

  test("asof join: one corpus exchange on the key, no join operator at all") {
    val probe = spark.range(0, 64).select(col("id").as("pid"),
      (col("id") % 4).cast("string").as("key"), (col("id") * 10).as("pts"))
    val build = spark.range(0, 32).select(
      (col("id") % 4).cast("string").as("key"), (col("id") * 17).as("bts"),
      col("id").cast("double").as("v"))
    val plan = physical(
      Joins.asofJoin(probe, build, Seq("key"), "pts", "bts", Seq("v")))
    // union-and-window: the ONLY exchange is the window's hashpartitioning
    // on the key — a Join node would mean the pair-materializing shape
    assert(!plan.contains("Join"), s"asof must not materialize pairs:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles === 1, s"expected exactly one key exchange:\n$plan")
  }

  test("asof bucketed: windows partition by (key, bucket); carry joins summaries only") {
    val probe = spark.range(0, 64).select(col("id").as("pid"),
      (col("id") % 4).cast("string").as("key"), (col("id") * 10).as("pts"))
    val build = spark.range(0, 32).select(
      (col("id") % 4).cast("string").as("key"), (col("id") * 17).as("bts"),
      col("id").cast("double").as("v"))
    val plan = physical(Joins.asofJoinBucketed(
      probe, build, Seq("key"), "pts", "bts", Seq("v"), 100L))
    // the hot-key fix: the big window's partitioning must include __bucket
    assert(plan.contains("hashpartitioning(key") && plan.contains("__bucket"),
      s"in-bucket window lost its bucket split:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"carry join fell back to a product:\n$plan")
  }

  /** The RDDs of `df`'s lineage down to its checkpoints, and the shuffle
    * dependencies between them. */
  private def lineage(df: org.apache.spark.sql.DataFrame)
      : (Seq[org.apache.spark.rdd.RDD[_]], Seq[org.apache.spark.ShuffleDependency[_, _, _]]) = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[Int, org.apache.spark.rdd.RDD[_]]
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (!seen.contains(r.id)) { seen(r.id) = r; r.dependencies.foreach(d => walk(d.rdd)) }
    walk(df.queryExecution.toRdd)
    val rdds = seen.values.toSeq
    (rdds, rdds.flatMap(_.dependencies).collect {
      case d: org.apache.spark.ShuffleDependency[_, _, _] => d
    }.distinct)
  }

  /** The rank loop runs outside Catalyst: the result's plan is one scan of
    * the loop's RDD, with no join, exchange, broadcast, product or Expand
    * for the optimizer to re-plan per round. */
  private def assertBareScan(name: String, ranks: org.apache.spark.sql.DataFrame): Unit = {
    val plan = physical(ranks)
    assert(plan.contains("Scan ExistingRDD"), s"$name: no RDD scan:\n$plan")
    for (op <- Seq("Join", "Exchange", "Broadcast", "CartesianProduct", "Expand"))
      assert(!plan.contains(op), s"$name: unexpected $op:\n$plan")
  }

  test("pageRank iteration moves compact rows: no product joins, no Expand") {
    val edges = spark.range(0, 32).select(
      (col("id") % 7).cast("string").as("src"),
      ((col("id") + 3) % 7).cast("string").as("dst"),
      (col("id") % 3 + 1).as("w"))
    val seeds = spark.range(0, 3).select(col("id").cast("string").as("seed"))
    val variants = Seq(
      "pageRank" -> Graph.pageRank(edges, "src", "dst", 2),
      "pageRankWeighted" -> Graph.pageRankWeighted(edges, "src", "dst", "w", 2),
      "pageRankPersonalized" ->
        Graph.pageRankPersonalized(edges, "src", "dst", seeds, "seed", 2))
    for ((name, ranks) <- variants) {
      assertBareScan(name, ranks)
      val (rdds, shuffles) = lineage(ranks)
      assert(!rdds.exists(_.getClass.getSimpleName == "CartesianRDD"),
        s"$name: rank-edge pass fell back to a product")
      // the edge rows shuffle once, each round shuffles only its per-dst
      // sums (map-side combined), and all of them land on one partitioner
      assert(shuffles.size === 1 + 2, s"$name: ${shuffles.size} shuffles for 2 rounds")
      assert(shuffles.count(_.mapSideCombine) === 2, s"$name: rounds must combine map-side")
      assert(shuffles.map(_.partitioner).distinct.size === 1,
        s"$name: rounds are not co-partitioned: ${shuffles.map(_.partitioner)}")
    }
  }

  test("asof forward: inherits the single-exchange no-join shape") {
    val probe = spark.range(0, 64).select(col("id").as("pid"),
      (col("id") % 4).cast("string").as("key"), (col("id") * 10).as("pts"))
    val build = spark.range(0, 32).select(
      (col("id") % 4).cast("string").as("key"), (col("id") * 17).as("bts"),
      col("id").cast("double").as("v"))
    val plan = physical(
      Joins.asofJoinForward(probe, build, Seq("key"), "pts", "bts", Seq("v")))
    assert(!plan.contains("Join"), s"forward asof must not materialize pairs:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles === 1, s"expected exactly one key exchange:\n$plan")
  }

  test("redistributing pageRank: dangling aggregate broadcasts, no products") {
    // The dangling mass is one driver-side Long per round, read from the
    // materialized state: no broadcast, no product, and every round but
    // the last is already checkpointed, so lineage is one round deep at
    // any iteration count.
    val edges = spark.range(0, 32).select(
      (col("id") % 7).cast("string").as("src"),
      ((col("id") + 3) % 7).cast("string").as("dst"))
    for (iterations <- Seq(2, 4)) {
      val ranks = Graph.pageRankRedistributing(edges, "src", "dst", iterations)
      assertBareScan(s"$iterations rounds", ranks)
      val (rdds, shuffles) = lineage(ranks)
      assert(!rdds.exists(_.getClass.getSimpleName == "CartesianRDD"),
        s"$iterations rounds: dangling term fell back to a product")
      assert(shuffles.size === 2 && shuffles.count(_.mapSideCombine) === 1,
        s"$iterations rounds: lineage must hold the edge shuffle and one round, " +
          s"got ${shuffles.size} shuffles")
    }
  }

  test("token JS divergence: count tables align on one (group, token) join, no Expand") {
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val plan = physical(
      TextAnalysis.tokenJsDivergence(a, b, "text", Seq("source")))
    // no countDistinct Expand, no product: partial counts collapse
    // map-side, the outer join rides hash exchanges
    assert(!plan.contains("Expand"), s"unexpected expand:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"alignment join fell back to a product:\n$plan")
  }

  test("hex-hash near-dup joins inside band buckets, no nested-loop fallback") {
    val hx = docs.select(col("doc_id"), lpad(hex(col("doc_id")), 16, "0").as("ahash"))
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1") // force the at-scale shuffle-join shape
      val plan = physical(Dedup.hexHashNearDupPairs(hx, "doc_id", "ahash", 3))
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
        s"pair generation fell back to a product join:\n$plan")
      assert(plan.contains("hashpartitioning(bandIdx"),
        s"join is not keyed by (band, value) buckets:\n$plan")
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("winnowing fingerprints are zero-shuffle map-side selection") {
    val plan = physical(
      TextAnalysis.winnowingFingerprints(docs, "doc_id", "text", 3, 4))
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("record linkage best-match is an aggregate, never a window sort") {
    val dirty = docs.select(col("doc_id").as("id"), col("source"),
      col("text").as("name"))
    val plan = physical(Linkage.linkByEditDistance(
      dirty, "id", docs.select(col("doc_id"), col("source"),
        col("text").as("name")), "doc_id", "name", "source", 2))
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("SCD2 point-in-time lookup broadcasts the dimension") {
    val ch = docs.select(col("doc_id").as("k"),
      (col("doc_id") * 1000).as("ts"), col("doc_id").as("tie"),
      col("source").as("v"))
    val dim = Joins.scd2Intervals(ch, "k", "ts", "tie", "v")
    val facts = docs.select(col("doc_id").as("fk"),
      (col("doc_id") * 1500).as("fts"))
    val plan = physical(facts.join(broadcast(dim),
      col("fk") === col("k") && col("fts") >= col("valid_from") &&
        (col("valid_to").isNull || col("fts") < col("valid_to")), "left"))
    assert(plan.contains("BroadcastHashJoin"), s"dimension not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("sparse random projection broadcasts the sign matrix") {
    val vecs = spark.range(0, 8).select(col("id"),
      array((0 until 4).map(j => (col("id") + j).cast("float")): _*).as("v"))
    val plan = physical(
      Similarity.randomProjectSparse(vecs, "id", "v", 4, 2))
    assert(plan.contains("BroadcastHashJoin"), s"matrix not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("bloomPrunedEquiJoin: the bitmap probe filters BELOW the large side's exchange") {
    val large = spark.range(0, 64).select(col("id").as("k"),
      col("id").cast("string").as("pay"))
    val small = spark.range(0, 4).select(col("id").as("sk"),
      (col("id") * 10).as("sv"))
    val plan = physical(
      Joins.bloomPrunedEquiJoin(large, small, "k", "sk", mBits = 1024))
    // The whole point: the probe must run map-side, before any exchange —
    // a Filter mentioning shiftright above the scan, not above the join.
    val lines = plan.linesIterator.toSeq
    val filterIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("shiftright"))
    assert(filterIdx >= 0, s"bitmap probe filter missing:\n$plan")
    // The probe filter's immediate child must be the scan itself —
    // map-side, before anything wider runs.
    assert(lines(filterIdx + 1).contains("Range"),
      s"probe filter not directly over the scan:\n$plan")
  }

  test("intervalOverlapJoin plans a hash join on (key, bucket), not a nested loop") {
    val a = spark.range(0, 16).select(lit("u").as("k"), col("id"),
      (col("id") * 10).as("s"), (col("id") * 10 + 15).as("e"))
    val plan = physical(Joins.intervalOverlapJoin(a, a, Seq("k"),
      "id", "s", "e", "id", "s", "e", bucketWidth = 10L))
    assert(!plan.contains("NestedLoop"), s"nested loop leaked:\n$plan")
    assert(!plan.contains("Cartesian"), s"cartesian leaked:\n$plan")
    assert(plan.contains("Join"), s"join missing entirely:\n$plan")
  }
}
