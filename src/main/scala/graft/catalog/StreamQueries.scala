package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Classify, Decontaminate, Dedup, Sessionize, Similarity, TextAnalysis}
import SparkEntry.stateShufflePartitions
import Support._

/** Structured-streaming queries over the XML file source, each drained to the
  * end and checked against a batch replay. */
private[catalog] object StreamQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q105_stream_index_probe", (s, d) => {
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
    },
      // q105: the same exact cross-parity Jaccard as q103 — streaming
      // micro-batch probes must drain to the identical pair set.
      """WITH t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks FROM documents)
        |SELECT b.doc_id AS batch_id, a.doc_id AS index_id,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |  len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        |FROM t a JOIN t b
        |  ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 AND b.doc_id < 500
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
        |ORDER BY batch_id, index_id""".stripMargin),

    QuerySpec("q185_stream_dedup_ledger", (s, d) => {
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
    },
      // q185: the drained cross-batch dedup state must equal the batch
      // DISTINCT digest set — the whole point of the gate.
      """SELECT DISTINCT md5(coalesce(text, '')) AS digest
        |FROM documents ORDER BY digest""".stripMargin),

    QuerySpec("q188_stream_stream_join", (s, d) => {
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
    },
      // q188: the drained stream-stream join must equal the batch range
      // join — inner join + full-span watermark is batch-boundary-
      // independent by construction.
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  CAST(c.user_id AS BIGINT) AS user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin),

    QuerySpec("q240_stream_nb_score", (s, d) => {
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
    },
      // q240: q234's fit+score replay restricted to the streamed odd-id
      // half — the drained micro-batch scores must equal the batch score.
      s"""WITH $nbOracleCtes,
        |occ AS (
        |  SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket
        |  FROM (SELECT doc_id,
        |      unnest(string_split_regex(trim(text), '\\s+')) AS token
        |    FROM documents
        |    WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 2 = 1)),
        |$nbScoreSql
        |WHERE d.doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("q247_stream_dsir_score", (s, d) => {
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
    },
      // q247: the q239 fit CTEs with the STREAMED half (odd ids, text
      // unchanged) as the batch — streaming serve of the frozen λ table is
      // stateless and map-side, so drained == this batch replay.
      s"""WITH $dsirCountCtes,
        |$dsirLambdaCte,
        |bb AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents
        |  WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 2 = 1),
        |$dsirScoreCtes
        |SELECT d.doc_id,
        |  coalesce(ds.n_bigrams, 0) AS n_bigrams,
        |  coalesce(ds.dsir_micro, 0) AS dsir_micro,
        |  CASE WHEN coalesce(ds.n_bigrams, 0) > 0
        |    THEN ds.dsir_micro // ds.n_bigrams END AS dsir_mean_micro
        |FROM documents d LEFT JOIN ds USING (doc_id)
        |WHERE d.doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("q249_stream_twolevel_serve", (s, d) => {
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
    },
      // q249: the drained streaming serve equals q242's batch serve — the
      // identical fit + serve replay.
      twoLevelServeOracleSql),

    QuerySpec("q251_stream_semdedup", (s, d) => {
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
    },
      // q251: the drained streaming probe equals q248's batch answer —
      // serve stateless, index frozen, per-row decisions independent.
      semDeDupIncrementalOracleSql),

    QuerySpec("q255_stream_semdedup_admit", (s, d) => {
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
    },
      // q255: the admitting frontier's sequential wave replay — see
      // [[semDeDupAdmitOracleSql]].
      semDeDupAdmitOracleSql),

    QuerySpec("q206_stream_sessions", (s, d) => {
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
    },
      // q206: the q40 batch sessionization, timestamps as exact epoch
      // micros — what the drained append-mode stream must equal.
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
        |ORDER BY user_id, start_us""".stripMargin),

    QuerySpec("q194_stream_upsert", (s, d) => {
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
    },
      // q194: the upserted table must hold exactly the latest change per
      // key — argmax by (ts, event_id), the struct-max rule.
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
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),

    QuerySpec("q162_stream_bpe_counts", (s, d) => {
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
    },
      // q162: the encode chain restricted to the streamed (odd-id) half —
      // the drained per-doc appends must equal the batch encode exactly.
      ("WITH " + bpeEncodeCtes(8) +
      """
        |SELECT doc_id, bt AS bpe_tokens
        |FROM dc WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin)),

    QuerySpec("q153_stream_drift_monitor", (s, d) => {
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
    },
      // q153: counts are additive, so the drained stream's summed batches
      // equal the batch computation — the q146 oracle gates it verbatim.
      jsDivergenceOracleSql),

    QuerySpec("q125_stream_cdc_probe", (s, d) => {
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
    },
      // q125: the gear recursion over ledger (even ids) and probe (odd ids
      // < 500) halves at once; reused = chunk hash IN the ledger's distinct
      // set (string equality — Spark's 60-bit prefix test differs only on
      // md5-prefix collisions, the documented convention).
      raw"""WITH RECURSIVE
        |d AS (
        |  SELECT 'led' AS ver, doc_id, text, length(text) AS n
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'new', doc_id, text, length(text)
        |  FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 2 = 1 AND doc_id < 500),
        |$gearCdcChunkCtes,
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
        |ORDER BY p.doc_id""".stripMargin),

    QuerySpec("q43_stream_nation", (s, d) => {
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
    },
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),

    QuerySpec("q58_stream_decontaminate", (s, d) => {
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
    },
      // Same survivors as q50 (the streaming path must equal the batch path),
      // with source carried through the XML roundtrip.
      raw"""WITH ${gramsCtes()},
        |bad AS (
        |  SELECT DISTINCT doc_id FROM g
        |  WHERE gram IN (SELECT gram FROM g WHERE doc_id % 37 = 0))
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY d.doc_id""".stripMargin),

    QuerySpec("q45_stream_sink_roundtrip", (s, d) => {
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
    },
      "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey"),

    QuerySpec("q79_stream_quality", (s, d) => {
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
    },
      // q79: the q62 gate's kept rows, drained through the streaming path.
      s"""WITH q AS ($qualityOracleSql)
        |SELECT doc_id FROM q WHERE keep ORDER BY doc_id""".stripMargin),

    QuerySpec("q95_stream_trending", (s, d) => {
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
    },
      // q95: identical epoch-aligned hourly windows + counts in batch SQL —
      // streaming state must reproduce them exactly.
      """SELECT
        |  make_timestamp((((1600000000 + doc_id * 60) // 3600) * 3600)
        |                 * 1000000) AS wstart,
        |  token, count(*) AS cnt
        |FROM (SELECT doc_id,
        |        unnest(string_split_regex(trim(text), '\s+')) AS token
        |      FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        |GROUP BY 1, 2 HAVING count(*) >= 100
        |ORDER BY 1, 2""".stripMargin)
  )

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to `n`
    * (restored in finally) — scopes the state sizing above to one stream. */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

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
}
