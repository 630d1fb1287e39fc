package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{SketchFunctions, TextHashFunctions}

/**
 * Deduplication operators for training-data pipelines, each designed around
 * Spark's shuffle model:
 *
 *  - exact dedup: one hash-shuffle on the content digest
 *  - MinHash LSH: map-side signatures → band explode → equi-join on
 *    (band, bucket) — candidate generation never goes quadratic, and the
 *    equi-join shuffle is AQE-skew-splittable
 *  - SimHash: map-side 64-bit sketch → pigeonhole chunk join for small
 *    Hamming radii
 *  - n-gram Jaccard: exact verification join, meant to run on LSH candidates
 *    or within a blocking key
 *
 * All operators are built from codegen'd built-in functions; signatures are
 * computed in a single map pass (no shuffle) so the only wide stages are the
 * candidate joins on compact keys.
 */
object Dedup extends org.apache.spark.internal.Logging {

  /**
   * Streaming exact dedup with custom state: the first row per key passes,
   * later rows — in the same micro-batch or any later one inside the
   * horizon — are dropped. `flatMapGroupsWithState` keeps one boolean per
   * key, expired `horizonMs` past the event-time watermark, so state stays
   * bounded on an unbounded keyspace and the behavior is deterministic on
   * replay (the horizon is measured in event time, not wall clock). The
   * streaming input must carry a watermark; a batch frame runs the same
   * code with state starting empty.
   */
  def dropDuplicatesStateful(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      horizonMs: Long): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val keyIdx = df.schema.fieldIndex(keyCol)
    val tsIdx = df.schema.fieldIndex(tsCol)
    val rowEnc = Encoders.row(df.schema)
    df.groupByKey((r: Row) => r.getLong(keyIdx))(Encoders.scalaLong)
      .flatMapGroupsWithState[Boolean, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[Row], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            Iterator.empty
          } else {
            val first = rows.next()
            var maxTs = first.getTimestamp(tsIdx).getTime
            while (rows.hasNext) {
              val t = rows.next().getTimestamp(tsIdx).getTime
              if (t > maxTs) maxTs = t
            }
            state.update(true)
            // Expiry anchored to the record's EVENT time (not the current
            // watermark — that would expire state the moment the watermark
            // jumps past a fixed offset). Clamped above the watermark, as
            // setTimeoutTimestamp requires; batch runs have no watermark and
            // never time out, so the call is skipped there.
            val wm = scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(-1L)
            if (wm >= 0) {
              state.setTimeoutTimestamp(math.max(maxTs + horizonMs, wm + 1))
            }
            Iterator.single(first)
          }
      }(Encoders.scalaBoolean, rowEnc)
      .toDF(scala.collection.immutable.ArraySeq.unsafeWrapArray(df.columns): _*)
  }

  /**
   * Streaming near-duplicate suppression: the first document per 64-bit
   * SimHash sketch (within `horizonMs` of event time) survives; later
   * documents with an IDENTICAL sketch — the [[simHashExactDupPairs]]
   * near-duplicate family, same distinct-token bit votes — are dropped.
   * The sketch is map-side; state is one boolean per seen sketch with
   * event-time expiry, so an unbounded stream holds a bounded seen-set.
   * The same code runs in batch (no watermark → no expiry). Approximate in
   * both directions exactly the way q36's batch operator is: a sketch
   * collision can drop a non-duplicate (2⁻⁶⁴-grade), and near-dups whose
   * sketches differ in one bit survive — use the batch LSH operators when
   * recall matters more than state size.
   */
  def dropNearDuplicatesStateful(
      df: DataFrame,
      textCol: String,
      tsCol: String,
      horizonMs: Long): DataFrame =
    dropDuplicatesStateful(
      df.withColumn("__sketch", simHash(col(textCol))), "__sketch", tsCol, horizonMs)
      .drop("__sketch")

  /**
   * Ensures the expensive map-side sketch computation has enough input
   * partitions WHEN that matters: a large unsplittable input (a multi-GB
   * gzip dump, one giant parquet row group) would otherwise serialize
   * signature computation onto a handful of tasks. Only scan-shaped plans
   * (no shuffle in the lineage) are considered — anything downstream of a
   * join/aggregate/repartition already carries shuffle-partition
   * parallelism, and probing such a plan's partition count via `.rdd` would
   * eagerly execute its query stages under AQE just to read a number. Small
   * under-partitioned inputs are left alone too: the serial map work is
   * cheaper than the round-robin exchange this would add (measured:
   * +0.8–1.3 s per query at sf0.1). At scale inputs carry many splits and
   * this is a no-op.
   */
  private def spreadInput(df: DataFrame, parts: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{logical => l}
    val plan = df.queryExecution.optimizedPlan
    val hasShuffleUpstream = plan.exists {
      case _: l.Join | _: l.Aggregate | _: l.Window | _: l.Sort |
          _: l.RepartitionOperation | _: l.Distinct | _: l.Deduplicate => true
      // Limits/offsets also plan an exchange stage; probing them via .rdd
      // would eagerly execute it at planning time under AQE.
      case _: l.GlobalLimit | _: l.LocalLimit | _: l.Offset => true
      case _ => false
    }
    if (hasShuffleUpstream) return df
    val big = plan.stats.sizeInBytes > (64L << 20)
    if (big && df.rdd.getNumPartitions < parts) df.repartition(parts) else df
  }

  /**
   * Partition count for a candidate-expansion stage. The exchange INPUT is
   * compact membership rows, but the stage's OUTPUT is the candidate pair
   * set — orders of magnitude larger — so parallelism must scale with the
   * input estimate, not stay pinned to `spark.sql.shuffle.partitions` (at
   * 100× the corpus the session default would push 100× the emission work
   * through the same task count). Session value as the floor (right for
   * bench/local scale), one task per ~1M membership rows as the growth
   * law, 65536 as the ceiling (8 full waves on a 1000-executor × 8-core
   * fleet). `expandedRows == 0` (no usable estimate) keeps the floor; a
   * NEGATIVE value is treated as a caller-side multiplication overflow and
   * saturates to the ceiling (the corpus that overflows the estimate is
   * exactly the one that needs it).
   */
  private[pipeline] def expansionPartitions(expandedRows: Long, floor: Int): Int = {
    // Callers multiply row estimates by expansion factors; an extreme
    // caller hint (nHint = Long.MaxValue) wraps the product negative. The
    // corpus that overflows the estimate is exactly the one that needs the
    // ceiling, not the silently-unscaled session floor.
    val rows = if (expandedRows < 0) Long.MaxValue else expandedRows
    // Floor applied LAST: a session configured above the ceiling keeps its
    // own parallelism — the ceiling bounds our growth, never the user's.
    math.max(floor.toLong, math.min(65536L, rows / (1L << 20) + 1)).toInt
  }

  /**
   * Order-of-magnitude row estimate from plan statistics alone — NEVER an
   * extra job (at 100 TB a count() pass is a full scan): exact rowCount
   * when the plan carries one, else on-disk/in-memory bytes over a
   * conservative ~512 B/document. Overestimating only adds (cheap, compact)
   * partitions; underestimating serializes pair emission — so err low on
   * the divisor. Unknown (sentinel) sizes → 0, callers keep their floor.
   */
  private[pipeline] def estimateRowsByStats(df: DataFrame): Long =
    PlanStats.rowCount(df).getOrElse(
      PlanStats.boundedSizeInBytes(df).map(s => (s / 512).toLong).getOrElse(0L))

  /** The long-keyed operators compact ids to 8 bytes for their pair joins;
   *  a non-numeric id would cast to null and silently dedup NOTHING, so
   *  reject it loudly. Accepts the integral primitives and exact integral
   *  decimals that fit a long (scale 0, precision ≤ 18 — JDBC/Hive NUMBER
   *  keys). Resolution mirrors the operators' own case-insensitive column
   *  lookup; an unresolvable or ambiguous name is left for `col()` to
   *  report with Spark's standard error. String ids: add an integral
   *  surrogate (`monotonically_increasing_id` or `xxhash64(id)`) first, or
   *  use [[connectedComponents]], which keeps natural id types. */
  private[pipeline] def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    df.schema.fields.filter(_.name.equalsIgnoreCase(idCol)) match {
      case Array(f) =>
        val ok = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case d: DecimalType => d.scale == 0 && d.precision <= 18
          case _ => false
        }
        require(ok,
          s"$op requires an integral id column; '$idCol' is ${f.dataType.catalogString}. " +
            "Derive a long surrogate (e.g. xxhash64(id)) or use connectedComponents, " +
            "which preserves natural id types.")
      case _ => // missing or ambiguous: let col() resolution produce the standard error
    }
  }

  /** Exact-duplicate groups keyed by md5 of raw text; keeps min(id) as representative. */
  def exactRepresentatives(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(to_binary(col(textCol), lit("utf-8"))).as("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Exact dedup: one row per distinct text (the min-id representative row). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(to_binary(col(textCol), lit("utf-8"))))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * Exact dedup keeping the BEST copy per identical-content group: the
   * winner maximizes `score`, ties broken by lowest id — the curation
   * shape when the same page arrives from several crawls/sources with
   * different metadata quality, and "first seen" would keep an arbitrary
   * copy. Adds `dup_count` (group size) to the surviving row. Same single
   * digest shuffle as [[exactDedup]]: both windows share the md5 content
   * key, so the group count and the ranked pick ride one exchange.
   */
  def bestExactRepresentatives(
      df: DataFrame,
      idCol: String,
      textCol: String,
      score: Column): DataFrame = {
    // The digest projects ONCE and both windows partition by that same
    // attribute — two inline md5(...) keys would be distinct expressions
    // to the planner and cost a second exchange.
    val withKey = df.withColumn("__key", md5(to_binary(col(textCol), lit("utf-8"))))
    val grp = Window.partitionBy(col("__key"))
    val w = grp.orderBy(score.desc, col(idCol))
    withKey.withColumn("dup_count", count(lit(1)).over(grp))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__key")
  }

  /**
   * The whole fuzzy-dedup decision in one operator: MinHash near-dup pairs
   * → exact-verified clusters ([[connectedComponents]]) → ONE survivor per
   * cluster, the `score` argmax (quality, length, recency — caller's
   * choice) with ties to the lowest id. Documents in no near-dup pair are
   * their own singleton cluster and always survive. Output rows are the
   * survivors with their `component` and `cluster_size` attached — what a
   * curation pipeline writes back as the deduplicated corpus.
   *
   * Scale shape: inherits the audited pair-generation and component
   * rounds; the membership table (id, component) covers only PAIRED ids,
   * so the join back is keyed by unique ids (no skew) and AQE can
   * broadcast it when small. The survivor pick shuffles (id, score,
   * component) rows once by component; a pathological giant cluster
   * serializes only its own compact rows through one window task (the
   * capPerKey caveat, minus the text).
   */
  def bestNearDupRepresentatives(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      score: Column): DataFrame =
    bestRepresentativesFromComponents(df, idCol,
      connectedComponents(minHashDedupPairs(df, idCol, textCol, threshold),
        "id_a", "id_b"),
      score)

  /**
   * The serve-side half of [[bestNearDupRepresentatives]]: pick each
   * cluster's survivor from a PRECOMPUTED (id, component) assignment —
   * the stored-artifact lifecycle (a dedup pipeline materializes its
   * cluster table once; keep-best, sizes, splits all read it instead of
   * re-mining the pair graph). Singletons (ids absent from the
   * assignment) survive untouched as their own cluster.
   */
  def bestRepresentativesFromComponents(
      df: DataFrame,
      idCol: String,
      components: DataFrame,
      score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = components.select(col("id").as("__cid"), col("component"))
    val joined = df.join(comp, col(idCol) === col("__cid"), "left")
      .withColumn("component", coalesce(col("component"), col(idCol).cast("long")))
      .drop("__cid")
    val grp = Window.partitionBy(col("component"))
    val w = grp.orderBy(score.desc, col(idCol))
    joined.withColumn("cluster_size", count(lit(1)).over(grp))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * Incremental exact dedup: admit only the rows of a newly-ingested
   * `batch` whose content does not already exist in the curated `corpus`,
   * then dedup the survivors among themselves (min-id representative, with
   * the batch-internal `dup_count`). This is the continuous-ingestion
   * shape: the curated corpus is petabytes and append-only, the daily batch
   * is orders of magnitude smaller, and re-running global dedup over the
   * union would re-shuffle the whole corpus every day. Here the corpus
   * contributes only its DISTINCT 16-byte content digests — the distinct
   * collapses map-side before the exchange, corpus text never crosses the
   * wire, and the anti-join shuffles ≈0.02% of corpus bytes. The digest key
   * is uniform by construction, so the join cannot skew; AQE is free to
   * broadcast the digest set when the corpus is small. The batch side pays
   * its own single digest shuffle, shared by the anti-join and the
   * representative window.
   */
  def incrementalExactDedup(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    def digest(c: Column): Column = md5(to_binary(c, lit("utf-8")))
    val corpusDigests = corpus.select(digest(col(textCol)).as("__digest")).distinct()
    val fresh = batch.withColumn("__digest", digest(col(textCol)))
      .join(corpusDigests, Seq("__digest"), "left_anti")
    val grp = Window.partitionBy(col("__digest"))
    fresh.withColumn("dup_count", count(lit(1)).over(grp))
      .withColumn("__rn", row_number().over(grp.orderBy(col(idCol))))
      .filter(col("__rn") === 1)
      .drop("__rn", "__digest")
  }

  /**
   * Cross-source contamination matrix: for every pair of sources, how many
   * DISTINCT contents (md5 digests) they share. The panel that answers "is
   * src_a a mirror of src_b?" before mixture weights are assigned.
   *
   * Shape at scale: texts leave the scan as fixed 32-byte digests; one
   * distinct on (digest, source); one digest-keyed aggregate collecting the
   * per-content source SET (small — bounded by the number of sources, not
   * by data); pair expansion is pure array arithmetic on that set (no
   * self-join of the corpus, which would shuffle the digest table twice
   * and explode on hot contents); the final pair count aggregates over at
   * most |sources|² keys. Pairs are emitted sorted (src_a < src_b) so the
   * matrix is a deterministic upper triangle.
   */
  def sourceOverlapMatrix(df: DataFrame, textCol: String, srcCol: String): DataFrame = {
    val bySource = df
      .select(md5(to_binary(col(textCol), lit("utf-8"))).as("__digest"),
        col(srcCol).as("__src"))
      .distinct()
      .groupBy("__digest").agg(sort_array(collect_set(col("__src"))).as("srcs"))
      .where(size(col("srcs")) > 1)
    val pairs = flatten(transform(
      sequence(lit(0), size(col("srcs")) - 2),
      i => transform(
        slice(col("srcs"), i + 2, size(col("srcs"))),
        b => struct(get(col("srcs"), i).as("src_a"), b.as("src_b")))))
    bySource.select(explode(pairs).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared_contents"))
  }

  /**
   * Snapshot diff between two corpus versions by CONTENT: per group
   * (source, lang, ...), how many DISTINCT contents were added, removed,
   * and retained from `oldDf` to `newDf` — the release-notes panel for a
   * corpus refresh, and the guard that catches "the new crawl silently
   * dropped half of source X" before a training run does. Content-keyed on
   * purpose: doc ids are not stable across re-crawls, text is.
   *
   * Shape at scale: each side leaves its scan as distinct
   * (group, 32-byte digest) rows (map-side partial distinct — text never
   * crosses the wire), one full-outer join on those compact keys, one
   * group aggregate. Rows with null text are excluded up front: a null
   * digest would never equi-join, so each side's nulls would double-count
   * as added AND removed.
   */
  def corpusDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      textCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "corpusDiff needs at least one group column")
    def sideKeys(df: DataFrame, marker: String): DataFrame =
      df.where(col(textCol).isNotNull)
        .select(groupCols.map(col) :+
          md5(to_binary(col(textCol), lit("utf-8"))).as("__digest"): _*)
        .distinct()
        .withColumn(marker, lit(1))
    val keys = groupCols :+ "__digest"
    sideKeys(oldDf, "__in_old")
      .join(sideKeys(newDf, "__in_new"), keys, "full_outer")
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(when(col("__in_old").isNull, 1L).otherwise(0L)).as("added"),
        sum(when(col("__in_new").isNull, 1L).otherwise(0L)).as("removed"),
        sum(when(col("__in_old").isNotNull && col("__in_new").isNotNull, 1L)
          .otherwise(0L)).as("retained"))
  }

  /**
   * Persistable MinHash INDEX rows for [[minHashPairsAgainstIndex]]:
   * `(id, toks, bands)` — the sorted hashed-token set (verification needs
   * it; 8-byte elements, never strings) and the band-bucket hashes.
   * Written once per corpus snapshot (parquet), probed by every later
   * batch; building it is one map pass, no shuffle.
   */
  def minHashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32): DataFrame = {
    requireIntegralId(df, idCol, "minHashIndex")
    df.select(col(idCol).cast("long").as("id"),
        hashedNgramSet(col(textCol), 1).as("toks"))
      .select(col("id"), col("toks"),
        SketchFunctions.minhash_band_hashes(
          SketchFunctions.minhash_signature(col("toks"), numHashes), bands)
          .as("bands"))
  }

  /**
   * Incremental NEAR-duplicate detection: a new batch probed against a
   * stored [[minHashIndex]] — the daily-ingest shape where the curated
   * corpus's signatures are computed ONCE and every later batch pays only
   * its own signatures plus a band join against the index. Candidates are
   * (band, bucket) collisions deduped on the compact id pair (the
   * probe-side distinct is proportional to batch collisions, not corpus
   * size); token sets join back by id for the exact merge-pass Jaccard
   * verify, so emitted pairs carry the TRUE similarity, same contract as
   * [[minHashDedupPairs]]. Within-batch duplicates are a separate concern
   * — run minHashDedupPairs on the batch for those.
   */
  def minHashPairsAgainstIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      threshold: Double,
      numHashes: Int = 128,
      bands: Int = 32): DataFrame = {
    // NOTE (r19, measured): do NOT spread or checkpoint the probe side.
    // Both hide its size stats (LogicalRDD/repartition report the unknown
    // sentinel), the candidate/verify joins degrade from broadcast to
    // sort-merge, and the INDEX side starts shuffling its fat token
    // arrays — stage CPU ballooned 3.2 s → 26 s at sf0.1 (the r18
    // stats-destruction lesson, reconfirmed here).
    val probe = minHashIndex(batch, idCol, textCol, numHashes, bands)
    // Candidate generation: compact (band, bucket, id) rows join, then a
    // distinct on the bare id pair. A near-dup pair collides on most of
    // its bands, so the distinct absorbs ~bands× duplicates — measured the
    // best of three shapes on a duplicate-heavy corpus (first-agreeing
    // filtering or shape-collapsed joins drag band/member arrays through
    // the hot-bucket product and lose 7-15×; the compact rows let AQE
    // skew-split the hot buckets). The probe contract is batch ≪ corpus —
    // candidate volume scales with the BATCH's collisions; for
    // corpus × corpus near-dup use [[minHashDedupPairs]], whose group
    // machinery owns that regime.
    val pb = probe.select(col("id").as("batch_id"),
      posexplode(col("bands")).as(Seq("band", "bucket")))
    val ib = index.select(col("id").as("index_id"),
      posexplode(col("bands")).as(Seq("band", "bucket")))
    val cand = pb.join(ib, Seq("band", "bucket"))
      .select("batch_id", "index_id").distinct()
    cand
      .join(probe.select(col("id").as("batch_id"), col("toks").as("btoks")), "batch_id")
      .join(index.select(col("id").as("index_id"), col("toks").as("itoks")), "index_id")
      .withColumn("jaccard",
        SketchFunctions.sorted_long_jaccard(col("btoks"), col("itoks")))
      .where(col("jaccard") >= threshold)
      .select(col("batch_id"), col("index_id"), col("jaccard"))
  }

  /**
   * Near-duplicate pairs over a PRECOMPUTED 64-bit hash carried as a
   * 16-char lowercase hex column — e.g. [[ImageCodec.aHashHex]] perceptual
   * hashes, giving image near-dup at corpus scale. Banded LSH: the hex
   * splits into four 16-bit bands; docs join only inside (band index, band
   * value) buckets, so no corpus self-join ever forms. By pigeonhole, a
   * pair within Hamming radius ≤ 3 differs in at most 3 bands and MUST
   * collide on the remaining one — recall is exactly 1.0 for
   * `maxHamming ≤ 3`, which the signature therefore enforces (the SimHash
   * path documents the same words×4 bound).
   *
   * Each colliding pair is emitted ONCE, by its first agreeing band (the
   * established first-agreeing-band convention): the filter recomputes
   * band equality from the two full hashes carried through the join, so
   * no second shuffle is needed to dedup emissions. Hamming distance is
   * two `bit_count` xors on the 32-bit hex halves — codegen'd, exact, and
   * replayable by any SQL engine from the same hex.
   */
  def hexHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band pigeonhole guarantees recall only for radius 0..3, got $maxHamming")
    requireIntegralId(df, idCol, "hexHashNearDupPairs")
    val base = df
      .select(col(idCol).cast("long").as("id"), col(hashCol).as("hx"))
      .filter(col("hx").isNotNull)
    // Distinct-hash collapse (the same defense the SimHash path carries):
    // one node per DISTINCT hash with its sorted member ids, so the banded
    // join's bucket sizes are bounded by distinct-hash counts — a corpus of
    // 100k byte-identical images contributes ONE row per band, not 100k
    // rows whose bucket would self-join quadratically.
    val nodes = base.groupBy(col("hx"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    def band(c: Column, k: Int): Column = substring(c, k * 4 + 1, 4)
    def half(c: Column, off: Int): Column =
      conv(substring(c, off, 8), 16, 10).cast("long")
    val hamming =
      bit_count(half(col("hx_a"), 1).bitwiseXOR(half(col("hx_b"), 1))) +
        bit_count(half(col("hx_a"), 9).bitwiseXOR(half(col("hx_b"), 9)))
    val firstAgreeing = (0 until 4).foldRight(lit(-1)) { (k, rest) =>
      when(band(col("hx_a"), k) === band(col("hx_b"), k), lit(k)).otherwise(rest)
    }
    val banded = nodes.select(col("hx"), col("ids"),
      posexplode(array((0 until 4).map(k => band(col("hx"), k)): _*))
        .as(Seq("bandIdx", "key")))
    val l = banded.select(col("bandIdx"), col("key"),
      col("hx").as("hx_a"), col("ids").as("ids_a"))
    val r = banded.select(col("bandIdx"), col("key"),
      col("hx").as("hx_b"), col("ids").as("ids_b"))
    // Cross-group pairs: hash-level candidates first (strict hx order
    // dedups the hash pair; first-agreeing band dedups multi-band
    // collisions), then member expansion through an OBJECT-pipeline
    // flatMap iterator — NOT chained generators: whole-stage codegen
    // cannot pause a generator mid-expansion, so one fat group pair's
    // quadratic fan-out from a single input row buffers entirely in the
    // stage-boundary row buffer (the minHashDedupPairs lesson, measured:
    // 2×10⁸ buffered rows = a JVM OOM). A Scala iterator streams the
    // same rows lazily.
    import df.sparkSession.implicits._
    val cross = l.join(r, Seq("bandIdx", "key"))
      .where(col("hx_a") < col("hx_b"))
      .where(col("bandIdx") === firstAgreeing)
      .where(hamming <= maxHamming)
      .select(col("ids_a"), col("ids_b"), hamming.cast("int").as("hamming"))
      .as[(Array[Long], Array[Long], Int)]
      .flatMap { case (ia, ib, h) =>
        ia.iterator.flatMap(a => ib.iterator.map(b =>
          if (a < b) (a, b, h) else (b, a, h)))
      }
      .toDF("id_a", "id_b", "hamming")
    // Within-group pairs are Hamming 0 by definition: i < j over the
    // sorted member list, the same object-pipeline iterator.
    val within = nodes.where(size(col("ids")) >= 2)
      .select(col("ids"))
      .as[Array[Long]]
      .flatMap { ids =>
        ids.indices.iterator.flatMap(i =>
          (i + 1 until ids.length).iterator.map(j => (ids(i), ids(j))))
      }
      .toDF("id_a", "id_b")
      .withColumn("hamming", lit(0))
    cross.unionByName(within)
  }

  /**
   * Per-group EXACT-duplication pressure: how much of each source is
   * verbatim copies — the first number a dedup run reports (it sets the
   * expectation for what near-dup will find, and a source whose dup rate
   * jumps between crawls is the canonical ingestion bug). One two-level
   * aggregate: (group, md5(text)) counts collapse map-side, then a
   * |groups|-row rollup — text never moves, digests do. Returns
   * (group, n_docs, n_distinct, dup_docs, dup_permille) with the rate in
   * exact truncating permille; null text digests as the empty string
   * (two null docs are duplicates of each other).
   */
  def dedupPressureReport(
      df: DataFrame, textCol: String, groupCol: String): DataFrame =
    df.select(col(groupCol).as("__g"),
        md5(coalesce(col(textCol).cast("string"), lit(""))).as("__dg"))
      .groupBy(col("__g"), col("__dg")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__g").as(groupCol))
      .agg(sum(col("__c")).as("n_docs"),
        count(lit(1)).as("n_distinct"))
      .withColumn("dup_docs", col("n_docs") - col("n_distinct"))
      .withColumn("dup_permille", expr("dup_docs * 1000 div n_docs"))

  /**
   * Exact repeated-passage spans — the "deduplicating training data makes
   * LMs better" (Lee et al. 2022) shape re-expressed for Spark: every
   * length-`windowLen` CHARACTER window at `stride` whose content occurs
   * in ≥ `minDocs` distinct documents is a repeated span. Suffix arrays
   * don't distribute; digest-keyed window equi-joins do — the trade is
   * window volume (len/stride rows per doc, ~24 bytes each), with
   * `stride` the recall-granularity-vs-cost knob.
   *
   * Scale shape: window hashes come from ONE code-point pass per document
   * ([[graft.functions.SlidingWindowHashes]] — 64-bit FNV-1a + murmur3
   * fmix64 per window); the only wide stages key on the 8-byte hash (text
   * never shuffles); the document-frequency filter is a hash-keyed
   * semi-join. Hashes are internal join keys only (positions, not hashes,
   * reach the output), exact absent a 64-bit collision — and a collision
   * only ever marks MORE text as repeated (the conservative direction).
   */
  def repeatedPassageSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowLen: Int,
      stride: Int,
      minDocs: Int = 2): DataFrame = {
    requireIntegralId(df, idCol, "repeatedPassageSpans")
    require(windowLen >= 2, s"windowLen must be >= 2, got $windowLen")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = df.select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("__t"))
      .withColumn("__len", length(col("__t")))
      .where(col("__len") >= windowLen)
    // 64-bit long digests via ONE pass per document
    // ([[graft.functions.SlidingWindowHashes]]): 8-byte keys through the
    // operator's two wide stages, codegen'd long comparisons in the join —
    // results exact absent a 64-bit collision, the same contract the
    // previous substring+md5-per-window formulation carried at 60 bits for
    // ~300× the per-window cost (measured at sf0.1: the window stage's CPU
    // fell 3.9 s → <0.3 s). The window table materializes ONCE
    // (localCheckpoint): both the df filter and the probe read it — at
    // very large scale, stage it to a scratch parquet table instead.
    val wins = base
      .select(col("id"),
        posexplode(graft.functions.TextHashFunctions.sliding_window_hashes(
          col("__t"), windowLen, stride)).as(Seq("__w", "h")))
      .select(col("id"), (col("__w") * stride).as("p"), col("h"))
      .localCheckpoint(eager = false)
    // "appears in >= minDocs distinct docs" without the two-exchange
    // distinct-aggregate expansion: for the ubiquitous minDocs = 2 case,
    // countDistinct(id) >= 2 over a window's rows is EXACTLY
    // min(id) != max(id) — one map-side-combinable aggregate, one
    // exchange. Larger thresholds keep the general plan.
    val hot =
      if (minDocs == 2)
        wins.groupBy(col("h"))
          .agg(min(col("id")).as("__lo"), max(col("id")).as("__hi"))
          .where(col("__lo") =!= col("__hi"))
          .select("h")
      else
        wins.groupBy(col("h"))
          .agg(countDistinct(col("id")).as("__df"))
          .where(col("__df") >= minDocs)
          .select("h")
    wins.join(hot, Seq("h"), "left_semi")
      .select(col("id"), col("p").as("s"), (col("p") + windowLen).as("e"))
  }

  /**
   * Per-document verbatim-copy saturation from [[repeatedPassageSpans]]:
   * overlapping repeated windows UNION into blocks ([[graft.pipeline
   * .Sessionize.intervalCoverage]]'s sweep), giving each document its
   * repeated-window count, merged-block count, copied characters, and
   * copy share of its length in exact permille — the panel that decides
   * whether a crawl slice needs substring-level surgery or document-level
   * dedup suffices. Documents shorter than `windowLen` carry no windows
   * and are omitted (nothing to measure).
   */
  def repeatedPassageReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowLen: Int,
      stride: Int,
      minDocs: Int = 2): DataFrame = {
    val spans = repeatedPassageSpans(df, idCol, textCol, windowLen, stride,
      minDocs)
    val lens = df.select(col(idCol).cast("long").as("id"),
        length(coalesce(col(textCol), lit(""))).cast("long").as("n_chars"))
      .where(col("n_chars") >= windowLen)
    val cov = Sessionize.intervalCoverage(spans, "id", "s", "e")
    lens.join(cov, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_intervals"), lit(0L)).as("n_windows"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("covered"), lit(0L)).as("copied_chars"),
        expr("coalesce(covered, 0) * 1000 div n_chars").as("copy_permille"),
        col("n_chars"))
  }

  /**
   * Auto-sized MinHash banding (numHashes, bands) for a corpus of `nEst`
   * documents at a given verification `threshold` — the "band bits must
   * grow with log N" rule (SCALING.md), derived instead of documented:
   *
   *  - rows-per-band r = 4 below 2²⁰ docs, +1 per doubling beyond — a
   *    sub-threshold pair's candidate probability is ~bands·s^r, so
   *    growing r with log₂(n) keeps the bucket-stage candidate volume
   *    (and with it per-bucket occupancy) from inflating as the corpus
   *    grows at a fixed threshold.
   *  - bands solves the recall bar at the threshold:
   *    (1 − t^r)^bands ≤ `missTarget` (default 1e-12 — the oracle-gate
   *    regime where LSH output equals the exact all-pairs answer).
   *
   * Below 2²⁰ docs the solve lands on the measured default (128, 32)
   * exactly. If holding the recall bar would need more than `maxHashes`
   * hashes per document (low thresholds on huge corpora), this REFUSES
   * loudly rather than silently burning CPU or recall — pass explicit
   * (numHashes, bands) to accept a documented trade.
   */
  def minHashParams(
      nEst: Long,
      threshold: Double,
      missTarget: Double = 1e-12,
      maxHashes: Int = 4096): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(missTarget > 0.0 && missTarget < 1.0,
      s"missTarget must be in (0, 1), got $missTarget")
    val extra =
      if (nEst <= (1L << 20)) 0
      else math.ceil(math.log(nEst.toDouble / (1L << 20)) / math.log(2.0)).toInt
    val r = 4 + extra
    if (extra == 0) (128, 32)
    else {
      val b = math.ceil(math.log(missTarget) /
        math.log1p(-math.pow(threshold, r))).toInt
      val nh = b * r
      require(nh <= maxHashes,
        s"auto-sized MinHash banding needs $nh hashes/doc ($b bands x $r rows) " +
          s"to hold miss probability <= $missTarget at threshold $threshold " +
          s"for ~$nEst docs — past maxHashes=$maxHashes. Pass explicit " +
          "(numHashes, bands) to trade recall for cost, or raise the threshold.")
      (nh, b)
    }
  }

  /**
   * Hybrid corpus count for [[minHashParams]] auto-sizing: the banding
   * curve is FLAT below the 2²⁰-doc cutover (every n there solves to the
   * same (128, 32)), so a plan-stats estimate landing comfortably below
   * it — under 2¹⁹, a 2× guard band — picks the exact-count banding for
   * free, zero extra jobs. Only near/above the boundary, or when stats
   * are unknown, does the exact count run: that is exactly where a
   * layout-sensitive estimate could bend the candidate curve, and
   * exactly where determinism must come from the data. On parquet the
   * count job is metadata-cheap, but on an XML-backed or derived frame
   * it is a full scan+parse — a real pass at 100 TB that the common
   * small-corpus call should not pay (the round-13 q24 finding). The
   * bytes-derived estimate errs toward OVERCOUNTING rows (conservative
   * ~512 B/doc divisor), so "estimate below the guard band" implies the
   * true count is below the cutover for any corpus of ≥ 256 B docs;
   * pathological tiny-doc corpora cross into the count-job path via the
   * guard band's 2× margin. Pass `nHint` to skip everything.
   */
  private[pipeline] def resolveBandingCount(df: DataFrame, nHint: Long): Long =
    if (nHint > 0) nHint
    else {
      val est = estimateRowsByStats(df)
      if (est > 0 && est < (1L << 19)) est else df.count()
    }

  /** Membership-volume boundary past which [[minHashDedupPairs]] runs the
    * realized bucket-occupancy probe: below it the candidate stage is
    * small enough that the session floor absorbs it and the probe's extra
    * aggregate would be pure overhead on the common small-corpus call
    * (the resolveBandingCount hybrid convention applied to parallelism);
    * at and above it the probe's cost is noise next to the emission it
    * sizes. 2²¹ membership rows ≈ 65k docs at the (128, 32) banding. */
  private val OccupancyProbeBoundary = 1L << 21

  /**
   * Near-duplicate pairs by MinHash LSH: (id_a, id_b, jaccard) for all
   * pairs with distinct-token-set Jaccard ≥ `threshold`, jaccard EXACT.
   * Banding auto-sizes from the corpus count via [[minHashParams]]
   * (128 hashes / 32 bands × 4 rows below 2²⁰ docs, rows-per-band growing
   * with log₂(n) beyond — miss probability ≤ 1e-12 at the threshold, so
   * the output matches an exact all-pairs oracle in practice; bucket
   * connectivity below can only ADD true pairs on top of banding's
   * recall, never lose one). Pass explicit (numHashes, bands) — both —
   * to pin the curve, e.g. to match a persisted index generation.
   *
   * Scale shape (the round-16 redesign; the r15 variant shipped each
   * document's full token set through EVERY band bucket — n·bands·|token
   * set| shuffle bytes, and died on disk at the 20M-doc decade — then
   * did one exact-Jaccard merge per within-bucket comparison, 9.45B of
   * them at 2M docs because every near-dup clique re-collides in nearly
   * every band):
   *
   *  1. EXACT-DUPLICATE COLLAPSE: one groupBy on the hashed token SET —
   *     one corpus-linear shuffle — folds every identical-content group
   *     into a single node (toks, sorted member ids, nid = min id),
   *     localCheckpointed once for every later stage. Verbatim copies —
   *     the dominant duplication mode in web corpora (see
   *     [[dedupPressureReport]]) — never enter LSH at all: within-node
   *     pairs stream at jaccard = 1.0 exactly (two identical non-empty
   *     sets; empty-set nodes are excluded — two empty docs score 0.0,
   *     the merge-pass convention), and MinHash arithmetic runs once per
   *     distinct content.
   *  2. BUCKET-CONNECTIVITY COMPONENTS over BARE membership rows: the
   *     only n·bands-sized stage ships (band, bucket, nid) — 24 B/row
   *     regardless of document length. One aggregate reduces it to the
   *     collision-sized hot-bucket table (band, bucket, rep = min nid,
   *     m ≥ 2); memberships map-side-join it (the hot table is
   *     checkpointed and broadcastable) into compact (nid, rep) star
   *     edges, and [[connectedComponents]] (large-star/small-star,
   *     O(log n) rounds over 16-byte rows) yields the candidate
   *     components. Any pair sharing ANY band bucket lands in one
   *     component, so recall ⊇ banding LSH; chaining can only pull IN
   *     additional (exactly verified) pairs.
   *  3. VERIFY PER COMPONENT, token sets shipped ONCE PER NODE: nodes
   *     join their component id and repartition by component — each
   *     document's set crosses the wire once, not `bands` times — and
   *     all within-component pairs verify at emission with the exact
   *     merge-pass Jaccard (only true pairs leave the task). This also
   *     deletes the banding redundancy from the comparison bill: a
   *     near-dup clique is compared once per pair, not once per pair per
   *     agreeing band.
   *
   * Degenerate shapes hold: total volume is bounded by the realized
   * probe below, and a giant component does NOT funnel through one
   * task — stage 3 shards each component's triangular pair space into
   * `pairBlockSize`-member index blocks keyed by (component, blo, bhi),
   * so a near-budget mega-clique verifies across ~(c/B)²/2 tasks, each
   * shipping only its two member slices. Past [[OccupancyProbeBoundary]]
   * memberships, the probe measures Σ c(c−1)/2 over component sizes
   * (the comparison volume — chaining-aware, where bucket occupancy
   * alone is not) PLUS the member-weighted cross-node output bound
   * Σ ((Σ|ids|)² − Σ|ids|²)/2 per component (a passing node pair emits
   * |ids_a|·|ids_b| rows — node-level counting alone undercounts a
   * corpus of duplicate groups that are near-dups of each other) PLUS
   * Σ |ids|·(|ids|−1)/2 over nodes (the exact-duplicate output volume),
   * refuses loudly past `maxPairBudget` on the sum, and the component
   * stage repartitions to the measured volume. Component discovery runs
   * a bounded number of compact service jobs at construction time (the
   * connected-components rounds) at any scale.
   */
  def minHashDedupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 0,
      bands: Int = 0,
      nHint: Long = 0L,
      maxPairBudget: Long = 100000000000L,
      pairBlockSize: Int = 512): DataFrame = {
    requireIntegralId(df, idCol, "minHashDedupPairs")
    require(maxPairBudget >= 1, s"maxPairBudget must be >= 1, got $maxPairBudget")
    require(pairBlockSize >= 2, s"pairBlockSize must be >= 2, got $pairBlockSize")
    val spark = df.sparkSession
    import spark.implicits._

    val floor = df.sparkSession.sessionState.conf.numShufflePartitions
    // Banding derives from the corpus count unless the caller pins it
    // (both or neither — a lone override would silently change the curve).
    val resolvedN = if (numHashes > 0 || bands > 0) 0L
      else resolveBandingCount(df, nHint)
    val (autoHashes, autoBands) =
      if (numHashes > 0 || bands > 0) {
        require(numHashes > 0 && bands > 0,
          "pass BOTH numHashes and bands, or neither (auto-sizing)")
        (numHashes, bands)
      } else minHashParams(resolvedN, threshold)
    // Parallelism sizing, by contrast, is a perf knob — the stats estimate
    // is fine there (partitioning never changes the pair SET).
    val nEst = if (nHint > 0) nHint else estimateRowsByStats(df)

    // Stage 1: exact-duplicate collapse. Tokenization runs exactly once
    // per document (hashed + sorted token set: 8-byte elements, Jaccard is
    // a single merge pass); the groupBy on the set itself — arrays are
    // orderable grouping keys — is the operator's ONE corpus-linear
    // token-set shuffle. MinHash arithmetic runs once per DISTINCT set
    // and only the band-hash FOLD persists (`bands` longs per node — the
    // full signature would be numHashes longs, 9× more at the grown
    // bandings): the checkpoint materializes the node table so both
    // membership passes, the probe, the component join and the
    // within-node emission all read it without re-tokenizing or
    // re-hashing.
    val nodes = spreadInput(df, floor)
      .select(col(idCol).cast("long").as("id"),
        hashedNgramSet(col(textCol), 1).as("toks"))
      .groupBy(col("toks"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(col("toks"), col("ids"), element_at(col("ids"), 1).as("nid"),
        SketchFunctions.minhash_band_hashes(
          SketchFunctions.minhash_signature(col("toks"), autoHashes),
          autoBands).as("bb"))
      .localCheckpoint(eager = false)

    val membership = math.max(nEst, resolvedN) * autoBands
    val probed = membership >= OccupancyProbeBoundary

    // Stage 2a: the hot-bucket table — ONE aggregate over bare
    // (band, bucket, nid) membership rows (24 B/row; the only stage whose
    // volume is n·bands, and it carries no payload at all) down to the
    // collision-sized (band, bucket, rep, m) table. Its single consumer
    // is the edge join below (AQE sees the aggregate's runtime size and
    // broadcasts it when small — the common case, since singleton
    // buckets are gone), so no checkpoint: one aggregation, one read.
    val hotBucketReps = nodes
      .select(col("nid"), posexplode(col("bb")).as(Seq("band", "bucket")))
      .groupBy(col("band"), col("bucket"))
      .agg(min(col("nid")).as("rep"), count(lit(1)).as("m"))
      .where(col("m") >= 2)

    // Stage 2b: star edges (nid → its bucket's min nid) for every hot
    // membership, deduped — a near-dup clique colliding in most bands
    // collapses to ~one edge per member here, BEFORE any wide machinery.
    // The inner join is map-side when the hot table broadcasts; either
    // way both sides are compact.
    val edges = nodes
      .select(col("nid"), posexplode(col("bb")).as(Seq("band", "bucket")))
      .join(hotBucketReps.select("band", "bucket", "rep"),
        Seq("band", "bucket"))
      .where(col("nid") =!= col("rep"))
      .select(col("nid"), col("rep"))
      .distinct()
    val comps = connectedComponents(edges, "nid", "rep")

    // Realized-volume probe (the q208 skew-probe convention): Σ c(c−1)/2
    // over COMPONENT sizes is the exact comparison volume of stage 3 —
    // chaining-aware, where bucket occupancy alone is not. Comparison
    // volume alone UNDERCOUNTS output: a passing NODE pair expands to
    // |ids_a|·|ids_b| member rows, so a corpus of exact-duplicate groups
    // that are near-dups of each other could pass a node-level budget yet
    // emit orders of magnitude more. The member-weighted cross-node bound
    // ((Σ|ids|)² − Σ|ids|²)/2 per component (from node member counts
    // joined through comps) caps that expansion, and
    // Σ |ids|·(|ids|−1)/2 over nodes is the exact-duplicate output
    // volume that bypasses LSH but is still output the caller pays for.
    // The probe refuses loudly past `maxPairBudget` on the SUM — emitting
    // a quadratic answer is a cost the caller must accept explicitly —
    // and the component stage repartitions to the measured volume. One
    // row per aggregate crosses to the driver at any scale; below the
    // boundary the probe (and its refusal) is skipped, the small-corpus
    // regime where the session floor absorbs everything.
    val probedVol: Option[Long] =
      if (!probed) None
      else {
        // All three quadratic terms run in decimal(38,0): a component
        // whose member count s exceeds √Long.MaxValue (~3.04e9) would
        // silently wrap s*s negative in long arithmetic (non-ANSI) and
        // UNDERSTATE the budget sum exactly in the degenerate regime the
        // probe exists to refuse. The doubled counts (n(n−1), s²−Σm²,
        // m(m−1) — all even) sum exactly below 10³⁸ and halve as BigInt
        // on the driver; after the refusal passes, compVol ≤
        // maxPairBudget ≤ Long.MaxValue, so the Long narrowing is safe.
        val stats = comps.withColumnRenamed("id", "nid")
          .join(nodes.select(col("nid"),
            size(col("ids")).cast("long").as("mc")), Seq("nid"))
          .groupBy(col("component"))
          .agg(count(lit(1)).as("n"), sum(col("mc")).as("s"),
            sum(expr("cast(mc as decimal(38,0)) * mc")).as("s2"))
          .agg(
            expr("coalesce(sum(cast(n as decimal(38,0)) * (n - 1)), " +
              "cast(0 as decimal(38,0)))"),
            expr("coalesce(sum(cast(s as decimal(38,0)) * s - s2), " +
              "cast(0 as decimal(38,0)))"))
          .head()
        val compVol = BigInt(stats.getDecimal(0).toBigInteger) / 2
        val crossVol = BigInt(stats.getDecimal(1).toBigInteger) / 2
        val withinVol = BigInt(nodes
          .agg(expr(
            "coalesce(sum(cast(size(ids) as decimal(38,0)) * (size(ids) - 1)), " +
              "cast(0 as decimal(38,0)))"))
          .head().getDecimal(0).toBigInteger) / 2
        require(compVol + crossVol + withinVol <= BigInt(maxPairBudget),
          s"MinHash dedup yields $compVol within-component comparisons " +
            s"expanding to up to $crossVol member pairs + $withinVol " +
            "exact-duplicate pairs (duplicate-heavy or low-diversity " +
            s"corpus) — past maxPairBudget=$maxPairBudget. Raise the " +
            "threshold, pass coarser explicit (numHashes, bands), or " +
            "raise the budget to accept the cost explicitly.")
        // Partition sizing follows the COMPARISON volume — the in-task
        // work. crossVol is output rows, which stream out lazily into the
        // consumer; sizing on it was measured at sf100 to explode the
        // pair-block stage to ~12k near-empty tasks (200 s of launch
        // overhead for the same 5.8k CPU-seconds of verification).
        Some(compVol.toLong)
      }
    // Component-stage parallelism grows with the MEASURED comparison
    // volume when probed (including a measured zero — "every document
    // identical" collapses to one node, measures 0 component comparisons,
    // and must keep the floor), else with the n × bands membership
    // estimate — see expansionPartitions.
    val parts =
      expansionPartitions(probedVol.getOrElse(membership), floor)
    val thr = threshold
    val bs = pairBlockSize
    // Stage 3: verify per component, SHARDED by triangular pair-range
    // blocks. Components are not a parallelism unit — one near-budget
    // mega-component would otherwise enumerate its whole C(c,2) pair
    // space in a single task. Instead each member gets a dense index
    // within its component (one window pass over the COMPACT 16-byte
    // component table — the fat token sets stay out of this shuffle and
    // join in by nid afterwards) and a block id midx/B; the pair space
    // is the triangle over block pairs (blo ≤ bhi), and a member of
    // block b ships to exactly the nblocks pair-blocks containing b —
    // replication factor ceil(c/B), data shipped c²/B against c²
    // comparisons. A component that fits one block (the common case)
    // degenerates to a single (0,0) pair-block: replication 1, identical
    // cost to an unsharded design.
    //
    // The explicit repartition pins the stage parallelism: the exchange
    // input is compact rows but the in-block work is the comparison
    // volume — orders of magnitude larger on low-diversity corpora — so
    // AQE's input-size-based coalescing would otherwise run it on a
    // handful of tasks; a user-specified repartition is exempt, and
    // grouping by the same columns reuses it instead of adding an
    // exchange.
    //
    // Column-keyed grouping (not groupByKey with a closure): the shuffle
    // moves UnsafeRows as-is and rows deserialize to tuples only inside
    // flatMapGroups, instead of a per-row deserialize/reserialize round
    // trip before the exchange just to extract the key.
    val compWindow = Window.partitionBy(col("component")).orderBy(col("nid"))
    val idx = comps.withColumnRenamed("id", "nid")
      .select(col("nid"), col("component"),
        (row_number().over(compWindow) - 1).cast("long").as("midx"),
        count(lit(1)).over(Window.partitionBy(col("component")))
          .as("csize"))
    val componentPairs = nodes
      .join(idx, Seq("nid"))
      .select(col("component"),
        expr(s"cast(midx div $bs as int)").as("blk"),
        expr(s"cast((csize + ${bs - 1}) div $bs as int)").as("nblocks"),
        col("ids"), col("toks"))
      .select(col("component"), col("blk"), col("ids"), col("toks"),
        explode(sequence(lit(0), col("nblocks") - 1)).as("other"))
      .select(col("component"),
        least(col("blk"), col("other")).as("blo"),
        greatest(col("blk"), col("other")).as("bhi"),
        col("blk"), col("ids"), col("toks"))
      .repartition(parts, col("component"), col("blo"), col("bhi"))
      .groupBy(col("component"), col("blo"), col("bhi"))
      .as[(Long, Int, Int), (Long, Int, Int, Int, Array[Long], Array[Long])]
      .flatMapGroups { (key: (Long, Int, Int),
          iter: Iterator[(Long, Int, Int, Int, Array[Long], Array[Long])]) =>
        val (_, blo, bhi) = key
        // The task buffer holds at most TWO blocks' (blk, ids, token
        // set) members — O(2B · |toks|) bytes regardless of component
        // size; total volume is bounded by the maxPairBudget refusal
        // upstream.
        val members = iter
          .map { case (_, _, _, blk, ids, toks) => (blk, ids, toks) }
          .toArray.sortBy(_._2(0))
        // Exact Jaccard of two sorted long arrays — the same
        // duplicate-collapsing merge as SortedLongJaccard, bit-for-bit:
        // inter/union as a double division, 0.0 on two empty sets.
        def jac(a: Array[Long], b: Array[Long]): Double = {
          val na = a.length; val nb = b.length
          var i = 0; var j = 0; var inter = 0; var union = 0
          while (i < na && j < nb) {
            val x = a(i); val y = b(j)
            union += 1
            if (x == y) {
              inter += 1
              do i += 1 while (i < na && a(i) == x)
              do j += 1 while (j < nb && b(j) == y)
            } else if (x < y) {
              do i += 1 while (i < na && a(i) == x)
            } else {
              do j += 1 while (j < nb && b(j) == y)
            }
          }
          while (i < na) {
            val x = a(i); union += 1
            do i += 1 while (i < na && a(i) == x)
          }
          while (j < nb) {
            val y = b(j); union += 1
            do j += 1 while (j < nb && b(j) == y)
          }
          if (union == 0) 0.0 else inter.toDouble / union.toDouble
        }
        // Verified at emission; a passing NODE pair expands to its
        // member-id pairs lazily (node id sets are disjoint, so min/max
        // per id pair keeps the canonical order). Output is a lazy
        // iterator: a quadratic-sized true answer streams out without
        // ever materializing in task memory — each emitted row is
        // verified HERE, so only true pairs leave the task.
        def verified(x: (Int, Array[Long], Array[Long]),
            y: (Int, Array[Long], Array[Long])): Iterator[(Long, Long, Double)] = {
          val s = jac(x._3, y._3)
          if (s >= thr) {
            x._2.iterator.flatMap(a => y._2.iterator.map(b =>
              if (a < b) (a, b, s) else (b, a, s)))
          } else Iterator.empty
        }
        if (blo == bhi) {
          // Diagonal block: every member carries blk == blo; the
          // triangle over the block enumerates each pair once.
          members.indices.iterator.flatMap(i =>
            (i + 1 until members.length).iterator.flatMap(j =>
              verified(members(i), members(j))))
        } else {
          // Off-diagonal block pair: full cross of the two slices —
          // each cross-block node pair lands in exactly this one
          // (blo, bhi) key, so the global enumeration stays exactly-once.
          val left = members.filter(_._1 == blo)
          val right = members.filter(_._1 == bhi)
          left.indices.iterator.flatMap(i =>
            right.indices.iterator.flatMap(j =>
              verified(left(i), right(j))))
        }
      }
      .toDF("id_a", "id_b", "jaccard")

    // Exact duplicates never touched LSH: identical non-empty sets pair
    // at jaccard 1.0 by definition (two EMPTY sets score 0.0 — the
    // merge-pass convention — hence the size(toks) guard); ids are
    // sorted, so i < j yields each pair once in (min, max) order. The
    // emission is an OBJECT-pipeline flatMap, not chained posexplode
    // generators: whole-stage codegen cannot pause a generator
    // mid-expansion, so one fat node's quadratic fan-out from a single
    // input row would buffer entirely in the stage-boundary row buffer
    // (measured: 20k identical docs = 2×10⁸ buffered rows, a driver-JVM
    // OOM). A Scala iterator streams the same answer row by row.
    val withinNode = nodes
      .where(size(col("ids")) >= 2 && size(col("toks")) > 0)
      .select(col("ids"))
      .as[Array[Long]]
      .flatMap { ids =>
        ids.indices.iterator.flatMap(i =>
          (i + 1 until ids.length).iterator.map(j => (ids(i), ids(j))))
      }
      .toDF("id_a", "id_b")
      .withColumn("jaccard", lit(1.0))
    componentPairs.unionByName(withinNode)
  }

  /** 64-bit SimHash over the distinct-token set (bit-vote sketch); map-side only. */
  def simHash(text: Column): Column =
    SketchFunctions.simhash64(hashedNgramSet(text, 1))

  // shiftrightunsigned with a Column shift amount exists only in SQL; wrap it.
  private def shiftrightunsigned_col(v: Column, amount: Column): Column =
    call_function("shiftrightunsigned", v, amount)

  /** The 16-bit chunks of a multi-word sketch: chunk c comes from word c/4,
   *  bits (c%4)*16 .. +15. `words` is a Seq so 64-bit sketches keep their
   *  single-column shape. */
  private def sketchChunks(words: Seq[Column]): Column =
    transform(sequence(lit(0), lit(words.length * 4 - 1)), i => {
      val word = words.zipWithIndex.tail.foldLeft(words.head) {
        case (acc, (w, wi)) => when(i >= wi * 4, w).otherwise(acc)
      }
      struct(i.as("chunk"),
        (shiftrightunsigned_col(word, (i % 4) * 16) bitwiseAND lit(0xffffL)).as("val"))
    })

  /** Index of the first (lowest) agreeing 16-bit chunk of two sketches,
   *  from their per-word XORs: 4×words if no chunk agrees. Pure bit
   *  arithmetic — the across-group pair dedup below is a filter, not a
   *  distinct() shuffle. */
  private def firstAgreeingChunkOfXors(xors: Seq[Column]): Column = {
    val n = xors.length * 4
    (0 until n).foldRight(lit(n): Column) { (c, acc) =>
      when((shiftrightunsigned(xors(c / 4), (c % 4) * 16)
        bitwiseAND lit(0xffffL)) === 0, lit(c)).otherwise(acc)
    }
  }

  /**
   * Near-duplicate pairs by SimHash with Hamming distance ≤ `maxHamming`
   * (≤ 3 supported via 4-chunk pigeonhole: any pair within radius 3 shares
   * at least one exact 16-bit chunk). Returns (id_a, id_b, hamming).
   *
   * Scale shape: identical sketches are collapsed FIRST into
   * (sketch, sorted id list) groups — one 8-byte-key shuffle — so the
   * pigeonhole join sees each DISTINCT sketch exactly once. Duplicate-heavy
   * corpora (where a bucket would otherwise grow as the square of the
   * duplicate count) cost the join nothing: hamming-0 pairs stream out of
   * the groups frame through pipelined generators without materializing,
   * and across-group pairs expand from the (small) matched-sketch-pair set.
   * Cross-group pair dedup is first-agreeing-chunk arithmetic on the XOR —
   * a map-side filter — replacing the former distinct() over the whole
   * candidate pair set (which shipped every candidate 4× through an extra
   * exchange).
   *
   * Remaining ceiling, stated plainly: each chunk has only 2¹⁶ values, so
   * chunk-join bucket occupancy grows as d/65536 with d = DISTINCT sketch
   * count, and within-bucket candidate pairing goes quadratic somewhere
   * past d ≈ 10⁷–10⁸. Duplicates no longer count toward d, which keeps
   * real duplicate-heavy corpora inside the envelope; past it, widen the
   * sketch — `bits = 128` runs the same machinery over a two-word sketch
   * (8 pigeonhole chunks, radius ≤ 7, and 2¹²⁸ sketch space pushes the
   * distinct-sketch birthday ceiling out of reach) — or pre-block on a
   * content prefix (trading recall, stated). [[minHashDedupPairs]] is the
   * preferred unbounded-scale near-dup path.
   *
   * `tokenHash` selects the per-token hash family: `"xxh64"` (default —
   * fastest per byte, the 100 TB hot path) or `"md5"`, which is slower but
   * recomputable in vanilla SQL, so a DuckDB oracle can rebuild every
   * sketch and all-pairs hamming distances and hash-check the operator's
   * full output (q26). Both run the identical collapse/pigeonhole/emission
   * machinery — the hash choice only changes the sketch values.
   */
  def simHashDedupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bits: Int = 64,
      tokenHash: String = "xxh64"): DataFrame = {
    require(bits == 64 || bits == 128, "sketch width must be 64 or 128 bits")
    val words = bits / 16 / 4
    require(maxHamming >= 0 && maxHamming <= words * 4 - 1,
      s"${words * 4}-chunk pigeonhole guarantees recall only for radius 0..${words * 4 - 1}")
    requireIntegralId(df, idCol, "simHashDedupPairs")
    val spark = df.sparkSession
    val floor = spark.sessionState.conf.numShufflePartitions
    // Group/emission parallelism grows with the corpus estimate (one
    // membership row per doc), floored at the session default.
    val parts = expansionPartitions(estimateRowsByStats(df), floor)
    // The sketch is projected once as an array and the words extracted in a
    // second projection (CollapseProject keeps a multiply-referenced
    // non-cheap producer in its own projection, so the sketch computes once
    // per row even for bits=128).
    val sketchArr: Column = (bits, tokenHash) match {
      case (64, "xxh64") => array(simHash(col(textCol)))
      case (128, "xxh64") => SketchFunctions.simhash128(hashedNgramSet(col(textCol), 1))
      case (64, "md5") => array(TextHashFunctions.md5_token_simhash64(col(textCol)))
      case (128, "md5") => TextHashFunctions.md5_token_simhash128(col(textCol))
      case _ => throw new IllegalArgumentException(
        s"unknown tokenHash '$tokenHash' (supported: xxh64, md5)")
    }
    val wNames = (0 until words).map(i => s"sim$i")
    val wCols = wNames.map(col)
    // Null sketches (null text) never pair — mirrors the join semantics the
    // chunk-equi-join had (NULL = NULL is not a match). The 64-bit arms wrap
    // the scalar sketch in array(), and array(null) is a NON-null array of
    // one null — so the element must be tested too, or null-text docs would
    // collapse into one "hamming 0" group and emit as false duplicates.
    val base = spreadInput(df, floor)
      .select(col(idCol).cast("long").as("id"), sketchArr.as("sk"))
      .filter(col("sk").isNotNull && col("sk").getItem(0).isNotNull)
      .select(col("id") +: wNames.zipWithIndex.map { case (n, i) =>
        col("sk").getItem(i).as(n) }: _*)

    // One row per distinct sketch, carrying its sorted member ids. The
    // explicit repartition pins parallelism for the pair-emission stages
    // below (AQE would coalesce the compact agg output onto a few tasks and
    // run the — potentially quadratic-sized — generator output there); the
    // groupBy on the same key reuses the exchange.
    val groups = base.repartition(parts, wCols: _*)
      .groupBy(wCols: _*)
      .agg(sort_array(collect_list(col("id"))).as("ids"))

    // hamming 0: all i<j pairs within one sketch group, emitted through an
    // OBJECT-pipeline flatMap iterator — NOT chained generators: whole-
    // stage codegen cannot pause a generator mid-expansion, so one fat
    // group's quadratic fan-out from a single input row buffers entirely
    // in the stage-boundary row buffer (the minHashDedupPairs lesson,
    // measured: 2×10⁸ buffered rows = a JVM OOM). The Scala iterator
    // streams the same answer row by row; ids are sorted, so i < j
    // yields canonical order.
    import df.sparkSession.implicits._
    val within = groups
      .filter(size(col("ids")) > 1)
      .select(col("ids"))
      .as[Array[Long]]
      .flatMap { ids =>
        ids.indices.iterator.flatMap(i =>
          (i + 1 until ids.length).iterator.map(j => (ids(i), ids(j))))
      }
      .toDF("id_a", "id_b")
      .withColumn("hamming", lit(0))

    // hamming 1..max: pigeonhole join over DISTINCT sketches only, then
    // expand each qualifying sketch pair to its id cross-product. The
    // lexicographic word order makes each sketch pair canonical; ids live
    // in exactly one group, so no id pair can repeat across sketch pairs.
    val slim = groups.select(wCols: _*)
    val chunked = slim
      .select(wCols :+ explode(sketchChunks(wCols)).as("c"): _*)
      .select(wCols :+ col("c.chunk").as("chunk") :+ col("c.val").as("val"): _*)
    def w(side: String, i: Int): Column = col(s"$side.${wNames(i)}")
    val lexLt = (0 until words).reverse.foldLeft(lit(false): Column) { (acc, i) =>
      (w("l", i) < w("r", i)) || ((w("l", i) === w("r", i)) && acc)
    }
    val xors = (0 until words).map(i => w("l", i) bitwiseXOR w("r", i))
    val hammingOf = xors.map(bit_count).reduce(_ + _)
    val simPairs = chunked.as("l")
      .join(chunked.as("r"),
        col("l.chunk") === col("r.chunk") && col("l.val") === col("r.val") && lexLt)
      .filter(firstAgreeingChunkOfXors(xors) === col("l.chunk"))
      .select((0 until words).map(i => w("l", i).as(s"a_${wNames(i)}")) ++
        (0 until words).map(i => w("r", i).as(s"b_${wNames(i)}")) :+
        hammingOf.as("hamming"): _*)
      .filter(col("hamming") <= maxHamming)
    val groupsA = groups.select(
      wNames.map(n => col(n).as(s"a_$n")) :+ col("ids").as("ids_a"): _*)
    val groupsB = groups.select(
      wNames.map(n => col(n).as(s"b_$n")) :+ col("ids").as("ids_b"): _*)
    // Member expansion through the same object-pipeline iterator as
    // `within` (generator fan-out from one fat group pair is the
    // stage-boundary-buffer hazard). ia != ib guards the self-pair a
    // COLLIDING surrogate id could produce (the same id landing in two
    // sketch groups); like the rest of the long-keyed pair family,
    // unique ids are the contract and a duplicated id across groups
    // would pair once per group pair.
    val across = simPairs
      .join(groupsA, wNames.map(n => s"a_$n"))
      .join(groupsB, wNames.map(n => s"b_$n"))
      .select(col("ids_a"), col("ids_b"), col("hamming"))
      .as[(Array[Long], Array[Long], Int)]
      .flatMap { case (ia, ib, h) =>
        ia.iterator.flatMap(a => ib.iterator
          .filter(b => a != b)
          .map(b => if (a < b) (a, b, h) else (b, a, h)))
      }
      .toDF("id_a", "id_b", "hamming")

    within.unionByName(across)
  }

  /**
   * Exact token-set duplicate pairs found through the SimHash sketch: two
   * documents with identical distinct-token sets have identical 64-bit
   * sketches, so candidates come from a plain equi-join on the 8-byte sketch
   * (one compact-key shuffle, no explode) and are then verified by exact
   * token-set equality. Returns (id_a, id_b).
   */
  def simHashExactDupPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    requireIntegralId(df, idCol, "simHashExactDupPairs")
    val base = df.select(
      col(idCol).cast("long").as("id"),
      simHash(col(textCol)).as("sim"),
      array_sort(array_distinct(TextAnalysis.tokens(col(textCol)))).as("toks"))
    val slim = base.select(col("id"), col("sim"))
    val cands = slim.as("l").join(slim.as("r"),
        col("l.sim") === col("r.sim") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    cands
      .join(base.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .filter(col("toks_a") === col("toks_b"))
      .select("id_a", "id_b")
  }

  /**
   * Exact paragraph-level dedup across the corpus (the C4/RefinedWeb-style
   * cleanup): splits each document on `sep`, keeps only the globally-first
   * occurrence of each distinct paragraph — ordered by (doc id, position) —
   * and reassembles documents in original paragraph order (documents whose
   * every paragraph was seen earlier become empty strings, not dropped
   * rows). The first-occurrence decision shuffles a 16-byte paragraph hash
   * (two independent xxhash64 draws — collision odds are birthday/2^128,
   * i.e. never) plus (id, idx), not paragraph text; text moves only in the
   * one reassembly shuffle it must.
   */
  def dedupParagraphs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n"): DataFrame = {
    requireIntegralId(df, idCol, "dedupParagraphs")
    val base = df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
    val paras = base
      .select(col("id"),
        posexplode(split(col("t"), java.util.regex.Pattern.quote(sep))).as(Seq("idx", "para")))
      .withColumn("h", struct(xxhash64(col("para")), xxhash64(col("para"), lit(1))))
    val firsts = paras.groupBy("h")
      .agg(min(struct(col("id"), col("idx"))).as("first"))
    val kept = paras.join(firsts, "h")
      .filter(col("id") === col("first.id") && col("idx") === col("first.idx"))
      .select("id", "idx", "para")
    val rebuilt = kept.groupBy("id")
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("idx"), col("para")))),
          x => x("para"))).as("cleaned"))
    base.select(col("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /**
   * Cross-document duplicate-span coverage — the substring-level dedup
   * signal of Lee et al. 2022 ("Deduplicating Training Data Makes Language
   * Models Better"): for each document, the fraction of its tokens covered
   * by at least one word `n`-gram that also occurs in ANOTHER document.
   * Docs built from boilerplate/templates score near 1.0 even when no
   * whole-document or paragraph dedup fires; filtering on
   * `dup_frac > threshold` (or feeding spans to a masker) is the standard
   * curation step this signals.
   *
   * Returns `(idCol, dup_tokens bigint, dup_frac double)` for every input
   * row (docs with no duplicated gram, fewer than `n` tokens, or null text
   * score 0).
   *
   * Shape, built for the 100-TB corpus not the toy one:
   *
   *  1. one map pass emits positional gram hashes (native expression — the
   *     gram's array index is its token offset; no gram strings built);
   *  2. the gram frequency aggregation shuffles (gram, id) with map-side
   *     partial min/max — within-partition repeats of a gram collapse
   *     before the wire — and the membership semi-join either broadcasts
   *     the dup-gram set (AQE, the common case: duplicated grams are a
   *     small fraction of distinct grams) or sort-merges on the same
   *     8-byte key. No stage's output exceeds its input, so AQE's
   *     input-size parallelism is the right size here — unlike the
   *     pair-emission stages, no explicit repartition is needed (a user
   *     repartition here is actively harmful: `PushDownLeftSemiAntiJoin`
   *     slides the semi-join beneath it, stranding a dead exchange
   *     between the join and the window);
   *  3. "duplicated" is decided with O(1) state per gram (`min(id) !=
   *     max(id)` — appears in ≥2 distinct docs), never a count-distinct;
   *  4. covered-token arithmetic is a lag window over each doc's surviving
   *     gram starts: fixed-length intervals sorted by start overlap only
   *     their predecessor, so union length is `n + Σ min(n, gap)` — no
   *     interval lists materialize, and the following per-doc aggregation
   *     reuses the window's partitioning.
   *
   * Only 8-byte gram hashes and (id, pos) ints ever shuffle; text stays in
   * the map stage. Gram-hash collisions can only overcount coverage of one
   * doc by one span (birthday at 2^64 — negligible at any corpus size).
   */
  /** (id, pos) of every gram start whose word `n`-gram occurs in >= 2
   *  distinct documents — the shared front of the span-coverage and
   *  span-removal operators (see [[duplicateSpanCoverage]]'s scaladoc for
   *  the plan shape). */
  private def dupGramHits(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    val grams = df
      .select(col(idCol).as("id"),
        posexplode_outer(SketchFunctions.positional_hashed_ngrams(col(textCol), n))
          .as(Seq("pos", "g")))
      // outer + output-null filter: the non-outer generator trips
      // InferFiltersFromGenerate into re-running the gram scan as a
      // pushed-down `size(...) > 0` pre-filter (see q53's note).
      .filter(col("pos").isNotNull)
    val dup = grams.groupBy("g")
      .agg(min("id").as("mn"), max("id").as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("g")
    grams.join(dup, Seq("g"), "left_semi").select("id", "pos")
  }

  def duplicateSpanCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val hits = dupGramHits(df, idCol, textCol, n)
    val w = Window.partitionBy("id").orderBy("pos")
    val prev = lag(col("pos"), 1).over(w)
    val covered = hits
      .withColumn("d", when(prev.isNull, lit(n)).otherwise(least(lit(n), col("pos") - prev)))
      .groupBy("id").agg(sum("d").as("dup_tokens"))
    df.select(col(idCol).as("id"), TextAnalysis.tokenCount(col(textCol)).as("toks"))
      .join(covered, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        // round(6): the ratio feeds cross-engine comparison (oracle divides
        // the same integers; last-ulp safety, same rule as q57).
        round(
          when(col("toks").isNull || col("toks") === 0, lit(0.0))
            .otherwise(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("toks")),
          6).as("dup_frac"))
  }

  /**
   * Cut the duplicated spans OUT of the text (the ExactSubstr-cut of Lee
   * et al. 2022): every token covered by a word `n`-gram occurring in >= 2
   * distinct documents is removed, and each document is rebuilt from its
   * surviving tokens in original order. Returns `(idCol, cleaned)` for
   * every input row (all-duplicate docs become empty strings, not dropped
   * rows; whitespace normalizes to single spaces — the tokenizer's view is
   * what's rebuilt).
   *
   * Removal is symmetric: a span shared by two documents is cut from BOTH
   * (the operator targets boilerplate/template mass, where no copy is the
   * "original"). To keep one representative of whole-duplicate documents
   * instead, run [[exactDedup]]/[[minHashDedupPairs]] first — this is the
   * scalpel after those hammers.
   *
   * Plan shape on top of the [[duplicateSpanCoverage]] front (one gram
   * frequency shuffle + membership semi-join of compact hashed rows):
   * surviving gram starts collapse to disjoint covered intervals with the
   * same per-doc lag window (`gap > n` starts a new island, so interval
   * lists never materialize), intervals explode to covered token indices
   * (bounded by the doc's token count), and one anti-join on (id, index)
   * drops covered tokens before the per-doc reassembly — the only stages
   * that move token text, and both linear in corpus size (the reassembly
   * mirror of [[dedupParagraphs]], with the same per-doc memory bound).
   */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val hits = dupGramHits(df, idCol, textCol, n)
    val w = Window.partitionBy("id").orderBy("pos")
    val prev = lag(col("pos"), 1).over(w)
    val islands = hits
      // pos <= prev + n touches/overlaps [prev, prev+n) — same island; the
      // running sum of new-island flags numbers islands within the doc.
      .withColumn("newi", when(prev.isNull || col("pos") - prev > n, 1).otherwise(0))
      .withColumn("isl", sum("newi").over(w))
      .groupBy("id", "isl")
      .agg(min("pos").as("s"), (max("pos") + n - 1).as("e"))
    val covered = islands
      .select(col("id"), explode(sequence(col("s"), col("e"))).as("idx"))
    val toks = df
      .select(col(idCol).as("id"),
        posexplode_outer(TextAnalysis.tokens(col(textCol))).as(Seq("idx", "tok")))
      .filter(col("idx").isNotNull)
    val rebuilt = toks
      .join(covered, Seq("id", "idx"), "left_anti")
      .groupBy("id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("idx"), col("tok")))),
          x => x("tok"))).as("cleaned"))
    df.select(col(idCol).as("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Distinct word n-gram (shingle) set of a text column. */
  def ngramSet(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    array_distinct(
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /**
   * Exact n-gram Jaccard similarity pairs within a blocking key (e.g. source,
   * language, or an LSH bucket). Quadratic only within each block — use
   * [[ngramJaccardPairs]] (prefix-filtered) unless blocks are known-small.
   */
  def ngramJaccardPairsQuadratic(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    val base = df.select(
      col(blockCol).as("blk"), col(idCol).as("id"),
      array_sort(transform(ngramSet(col(textCol), n), g => xxhash64(g))).as("grams"))
    base.as("l").join(base.as("r"),
        col("l.blk") === col("r.blk") && col("l.id") < col("r.id"))
      .withColumn("jaccard", SketchFunctions.sorted_long_jaccard(col("l.grams"), col("r.grams")))
      .filter(col("jaccard") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("jaccard"))
  }

  /**
   * Sorted distinct hashed n-gram set, computed without building gram
   * strings: tokens are hashed once, and a gram's hash combines its n token
   * hashes with one more xxhash64. Tokens are whitespace-free, so two grams
   * are string-equal iff their token tuples are equal — equality semantics
   * match hashing the space-joined gram text, at a fraction of the cost.
   */
  /**
   * Sorted distinct hashed n-gram set — the native single-pass expression.
   * Gram hashes combine per-token XXH64 hashes, so equality semantics match
   * hashing the space-joined gram strings (tokens are whitespace-free).
   */
  def hashedNgramSet(text: Column, n: Int): Column =
    SketchFunctions.hashed_ngrams(text, n)

  /**
   * Exact n-gram Jaccard similarity pairs by prefix filtering (AllPairs /
   * PPJoin family), blocked by `blockCol`. Never quadratic in a block:
   *
   *  1. one aggregation computes global gram document-frequencies;
   *  2. each document's grams are ordered rarest-first by (df, gram) — a
   *     common total order — and only the first `|A| - ceil(t*|A|) + 1`
   *     (the Jaccard prefix) are emitted as (block, gram) index rows. Any
   *     pair with Jaccard >= t must share a gram in both prefixes, so the
   *     equi-join on (block, gram) has perfect recall;
   *  3. a length filter (`t*|A| <= |B| <= |A|/t`) prunes inside the join,
   *     candidates are deduped on the id pair alone, and survivors are
   *     verified with the exact merge-pass Jaccard.
   *
   * Rarest-first ordering keeps stop-gram rows out of the index, so the join
   * fan-out tracks true near-duplicates rather than shared common phrases.
   * All stages shuffle compact keys (8-byte gram hashes, 16-byte id pairs);
   * the frequency-sort window shuffles by id — linear in corpus size. The
   * verification stage melts candidate id pairs to single-id rows so the
   * expensive gram-set computation runs once, not once per join side.
   */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    requireIntegralId(df, idCol, "ngramJaccardPairs")
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val base = spreadInput(df, parts).select(
      col(blockCol).as("blk"), col(idCol).cast("long").as("id"),
      hashedNgramSet(col(textCol), n).as("grams"))

    val freq = base.select(explode(col("grams")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))

    val exploded = base.select(col("blk"), col("id"),
        size(col("grams")).as("sz"), explode(col("grams")).as("g"))
      .join(freq, "g")
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")
    val prefixRows = exploded
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("g"))))
      .filter(col("rk") <= prefixLen)
      .select("blk", "id", "sz", "g")
    // Estimate-conditional emission pin: above the session floor, an
    // explicit repartition on the join key pins the pair-emission
    // parallelism against AQE's input-size coalescing (the index rows are
    // compact; the join OUTPUT is the candidate set) — scaled from the
    // corpus estimate like the minhash/LSH emission stages, and the
    // self-join's two sides reuse the single exchange. AT the floor the pin
    // would buy zero parallelism (AQE can only coalesce below the floor
    // when expansion work is small anyway) while costing a whole extra
    // exchange — there the join plans its own hashpartitioning(blk, g)
    // exchange, deduplicated across the two sides by ReuseExchange.
    val expParts = expansionPartitions(estimateRowsByStats(df) * 4, parts)
    val prefix =
      if (expParts > parts) prefixRows.repartition(expParts, col("blk"), col("g"))
      else prefixRows

    val candidates = prefix.as("l").join(prefix.as("r"),
        col("l.g") === col("r.g") && col("l.blk") === col("r.blk") &&
          col("l.id") < col("r.id") &&
          col("r.sz") >= lit(threshold) * col("l.sz") &&
          col("l.sz") >= lit(threshold) * col("r.sz"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()

    // Melt each candidate pair into two (pair, side, id) rows and resolve
    // gram sets through ONE join against base, then pivot the two sides back
    // together. Base's gram computation is the dominant cost at scale; this
    // runs it once instead of once per pair side.
    val sides = candidates.select(col("id_a"), col("id_b"),
        explode(array(
          struct(lit(0).as("side"), col("id_a").as("id")),
          struct(lit(1).as("side"), col("id_b").as("id")))).as("s"))
      .select(col("id_a"), col("id_b"), col("s.side").as("side"), col("s.id").as("id"))
    sides.join(base.select(col("id"), col("grams")), "id")
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("side") === 0, col("grams")), ignoreNulls = true).as("grams_a"),
        first(when(col("side") === 1, col("grams")), ignoreNulls = true).as("grams_b"))
      .withColumn("jaccard", SketchFunctions.sorted_long_jaccard(col("grams_a"), col("grams_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Asymmetric containment pairs: emit (id_a, id_b, containment) where
   * `containment = |grams(A) ∩ grams(B)| / |grams(A)| >= threshold` — doc A
   * is mostly CONTAINED in doc B. This is the measure Jaccard structurally
   * misses: a quote, snippet, or article embedded in a longer page has
   * near-1 containment but arbitrarily low Jaccard (the union is dominated
   * by the container), and a symmetric near-dup pass leaves every such
   * partial copy in the corpus. Blocked by `blockCol` like
   * [[ngramJaccardPairs]].
   *
   * Prefix filtering still applies, but only on the CONTAINED side: if
   * containment >= t then B must hold one of A's `|A| - ceil(t*|A|) + 1`
   * rarest grams, so A-prefix rows join against the FULL gram index of the
   * block (the container side admits no prefix bound — containment ignores
   * |B|, so every container gram must be probeable). The index is linear in
   * corpus grams (8-byte hashes); rarest-first probe ordering keeps the
   * equi-join fan-out tracking true containment rather than shared stop
   * phrases. The only containment-specific length prune is one-sided
   * (`|B| >= t*|A|`); survivors verify with the exact merge-pass overlap
   * count (the integer [[graft.functions.SortedLongOverlap]] — containment
   * cannot be recovered exactly from the Jaccard double).
   */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    requireIntegralId(df, idCol, "containmentPairs")
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val base = spreadInput(df, parts).select(
      col(blockCol).as("blk"), col(idCol).cast("long").as("id"),
      hashedNgramSet(col(textCol), n).as("grams"))

    val freq = base.select(explode(col("grams")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))

    val exploded = base.select(col("blk"), col("id"),
        size(col("grams")).as("sz"), explode(col("grams")).as("g"))
      .join(freq, "g")
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")
    val probe = exploded
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("g"))))
      .filter(col("rk") <= prefixLen)
      .select(col("blk"), col("id").as("id_a"), col("sz").as("sz_a"), col("g"))
    val index = exploded.select(col("blk"), col("id").as("id_b"),
      col("sz").as("sz_b"), col("g"))

    val expParts = expansionPartitions(estimateRowsByStats(df) * 4, parts)
    val (probeIn, indexIn) =
      if (expParts > parts)
        (probe.repartition(expParts, col("blk"), col("g")),
          index.repartition(expParts, col("blk"), col("g")))
      else (probe, index)

    val candidates = probeIn.as("l").join(indexIn.as("r"),
        col("l.g") === col("r.g") && col("l.blk") === col("r.blk") &&
          col("l.id_a") =!= col("r.id_b") &&
          col("r.sz_b") >= lit(threshold) * col("l.sz_a"))
      .select(col("l.id_a"), col("r.id_b"))
      .distinct()

    // Same melt as ngramJaccardPairs: gram sets resolve through ONE join.
    val sides = candidates.select(col("id_a"), col("id_b"),
        explode(array(
          struct(lit(0).as("side"), col("id_a").as("id")),
          struct(lit(1).as("side"), col("id_b").as("id")))).as("s"))
      .select(col("id_a"), col("id_b"), col("s.side").as("side"), col("s.id").as("id"))
    sides.join(base.select(col("id"), col("grams")), "id")
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("side") === 0, col("grams")), ignoreNulls = true).as("grams_a"),
        first(when(col("side") === 1, col("grams")), ignoreNulls = true).as("grams_b"))
      .filter(size(col("grams_a")) > 0)
      .withColumn("containment",
        SketchFunctions.sorted_long_overlap(col("grams_a"), col("grams_b"))
          .cast("double") / size(col("grams_a")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /**
   * Connected components over a near-duplicate pair graph: the step between
   * "pairs above threshold" and "keep one representative per duplicate
   * cluster". Returns one row per node that appears in `pairs`:
   * (`id`, `component`) where `component` is the smallest node id reachable
   * from `id` — so `WHERE id = component` selects cluster representatives.
   *
   * Algorithm: alternating large-star / small-star (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC 2014), the
   * standard O(log n)-round formulation — NOT label propagation, whose
   * round count is the graph diameter (a duplicate chain a-b-c-…-z would
   * take |chain| shuffles). Both steps are expressed as min-aggregations
   * and equi-joins on node id:
   *
   *  - large-star: every node points its larger neighbors at the minimum
   *    of its neighborhood (incl. itself)
   *  - small-star: every node and its smaller neighbors collapse onto that
   *    minimum
   *
   * Skew: a duplicate cluster of any size concentrates on its minimum node,
   * but both stages only ever shuffle (node, 8-byte min) rows — min is
   * partially aggregable map-side, and the join back is AQE-skew-splittable.
   * No neighborhood is ever collected into one task. Each round
   * checkpoints the edge set: iterative self-joins otherwise double
   * the lineage per round and replan from the raw input at every step.
   * `checkpointDir = None` uses executor-local checkpoints (fastest; right
   * for local mode and tests); on a real cluster with lossy executors pass
   * `Some(dir)` on shared storage — a lost executor then costs a re-read
   * of that round's files instead of a full recompute from the raw pairs
   * (which the truncated lineage could not even express).
   * Convergence is detected by an order-insensitive edge-set checksum, and
   * the checkpoints are lazy so the round's lineage is COMPUTED exactly
   * once, by that checksum — on the local path that is the one job per
   * round (vs. an eager-checkpoint job followed by a checksum job,
   * measured ~2× on small graphs, where per-round scheduling overhead
   * dominates the tiny shuffles); on the reliable path Spark's internal
   * checkpoint writer adds a second job that reads the round's (persisted)
   * blocks rather than recomputing them.
   */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 25,
      localUnionFindEdges: Long = 2L << 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    // setCheckpointDir mutates SparkContext-global state; each call also
    // creates a fresh UUID subdirectory, so concurrent runs sharing one
    // user-supplied dir never collide on FILES (the remaining race is the
    // global checkpoint-dir SETTING itself between interleaved runs on one
    // context — unavoidable with the public API). The previous setting is
    // restored on exit, and each round's snapshot is deleted as soon as the
    // NEXT round's checkpoint is durable — so at most two snapshots exist
    // at a time instead of maxIter+1. Only the LAST round's files survive
    // the call (the returned frame still reads them lazily): delete the
    // user dir after consuming the result.
    // Save/restore goes through Bridge, NOT setCheckpointDir: the public
    // setter appends a fresh UUID subdir per call, so restoring a saved
    // value through it would leave the context one level deeper (and mkdir
    // it) every time — a caller that already had a checkpoint dir would see
    // it drift.
    val prevCheckpointDir =
      org.apache.spark.sql.graft.Bridge.rawCheckpointDir(spark.sparkContext)
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def restoreCheckpointDir(): Unit = if (checkpointDir.isDefined) {
      org.apache.spark.sql.graft.Bridge
        .restoreCheckpointDir(spark.sparkContext, prevCheckpointDir)
    }
    var lastCheckpointFile: Option[String] = None
    // Called right after the action that made `newlyDurable`'s checkpoint
    // real: the superseded previous snapshot is dead lineage from here on.
    def dropSupersededCheckpoint(newlyDurable: DataFrame): Unit =
      if (checkpointDir.isDefined) {
        val fresh = org.apache.spark.sql.graft.Bridge.checkpointFile(newlyDurable)
        (lastCheckpointFile, fresh) match {
          case (Some(old), Some(nw)) if old != nw =>
            try {
              val p = new org.apache.hadoop.fs.Path(old)
              p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
            } catch {
              case scala.util.control.NonFatal(e) =>
                logWarning(s"could not delete superseded checkpoint $old: $e")
            }
          case _ => ()
        }
        if (fresh.isDefined) lastCheckpointFile = fresh
      }
    // Both flavors stay lazy: the round's checksum action is the one job
    // that materializes the round. Reliable checkpoints write their files
    // in a SECOND internal job at the end of that action; the persist below
    // makes that writer read the round's cached blocks instead of
    // recomputing the whole round's lineage (Spark only skips the
    // recomputation for persisted RDDs). The cache is dropped right after
    // the round's checksum — from then on reads come from checkpoint files.
    var roundCache: Option[DataFrame] = None
    def checkpointRound(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        roundCache = Some(df)
        df.checkpoint(eager = false)
      } else df.localCheckpoint(eager = false)
    def dropRoundCache(): Unit = {
      roundCache.foreach(_.unpersist(blocking = false))
      roundCache = None
    }
    try {

    // Canonical undirected edge list, self-loops dropped. Ids keep their
    // natural type — the algorithm only needs ordering and equality, so
    // string doc-ids (content hashes, URLs) work as-is and `component` is
    // the min under that type's ordering. No distinct here: duplicate edges
    // change neither the group-by-min nor the first round's own distinct,
    // and skipping it saves a full-width shuffle of the raw pair set (the
    // largest frame this operator ever touches). The localCheckpoint still
    // matters — `pairs` is typically an expensive similarity-join pipeline,
    // and round 1 scans the edge set twice.
    var edges = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    edges = checkpointRound(edges)

    // Order-insensitive: XOR over distinct edge hashes (sum would overflow
    // under ANSI arithmetic), plus the count to guard XOR collisions.
    def checksum(e: DataFrame): (Long, Long) =
      e.agg(
        count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h"))
        .as[(Long, Long)].head()

    var prev = checksum(edges)
    dropRoundCache()
    dropSupersededCheckpoint(edges)

    // Small-graph short circuit: the O(log n) rounds exist for graphs that
    // cannot fit one task; below the threshold (the checksum already paid
    // for the exact edge count) a single-task union-find answers in ONE
    // stage over the checkpointed edges instead of ~6 shuffles × rounds of
    // scheduling overhead. The default is sized by the union-find's heap,
    // not the edge bytes: worst case (a perfect matching) has 2 nodes per
    // edge at ~75 B per boxed HashMap entry, so 2M edges ≤ ~300 MB in the
    // one task — safe on ordinary 4 GB executors. Components of a 100 TB
    // near-dup pair set go the distributed route; the specs force it with
    // localUnionFindEdges = 0.
    if (prev._1 <= localUnionFindEdges) {
      localUnionFindOrdering(edges) match {
        case Some(ord) => return localUnionFind(edges, ord)
        case None => () // exotic id type: distributed rounds handle any type
      }
    }

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Large-star on the symmetric neighborhood.
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      val afterLarge = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

      // Small-star on the downward edges (u > v by construction above).
      val minsS = afterLarge.groupBy("u").agg(min(col("v")).as("mn"))
      val withMin = afterLarge.join(minsS, "u")
      val afterSmall = checkpointRound(withMin
        .select(col("v").as("u"), col("mn").as("v"))
        .union(withMin.select(col("u"), col("mn").as("v")))
        .filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct())

      val cur = checksum(afterSmall)
      dropRoundCache()
      dropSupersededCheckpoint(afterSmall)
      converged = cur == prev
      prev = cur
      edges = afterSmall
      iter += 1
    }
    if (!converged) {
      // Result would be a partially merged clustering — never fail silently.
      logWarning(s"connectedComponents did not converge within $maxIter rounds; " +
        "component labels may be partially merged. Raise maxIter (rounds needed " +
        "grow ~log n; 25 covers any realistic graph, so this usually indicates " +
        "pathological input).")
    }

    // At the fixed point every edge is (member, root); roots name themselves.
    edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .groupBy("id").agg(min(col("component")).as("component"))
    } finally restoreCheckpointDir()
  }

  /** External-type ordering for the id column matching Spark's own sort
   *  order for that type (strings compare as UTF-8 bytes, exactly like
   *  `UTF8String`, NOT as UTF-16 `String.compareTo` — they disagree on
   *  supplementary code points, and the component label must be the same
   *  min the distributed rounds would pick). None → no cheap external
   *  comparator here, take the distributed rounds regardless of size. */
  private def localUnionFindOrdering(edges: DataFrame): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    val comparableOrd: Ordering[Any] = new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
    val utf8Ord: Ordering[Any] = new Ordering[Any] {
      def compare(a: Any, b: Any): Int = java.util.Arrays.compareUnsigned(
        a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    edges.schema("u").dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | _: DecimalType => Some(comparableOrd)
      case StringType => Some(utf8Ord)
      case _ => None
    }
  }

  /** Single-task min-rooted union-find with path halving: one stage over
   *  an edge set already known to be small. The root of every set is the
   *  component minimum by construction (union keeps the smaller root), so
   *  the output labeling is identical to the distributed rounds'. */
  private def localUnionFind(edges: DataFrame, ord: Ordering[Any]): DataFrame = {
    val spark = edges.sparkSession
    val dt = edges.schema("u").dataType
    val out = edges.select(col("u"), col("v")).rdd.coalesce(1).mapPartitions { it =>
      val parent = new java.util.HashMap[Any, Any]()
      def find(x0: Any): Any = {
        var x = x0
        var p = parent.get(x)
        if (p == null) { parent.put(x, x); return x }
        while (p != x) { // path halving
          val gp = parent.get(p)
          parent.put(x, gp)
          x = gp
          p = parent.get(x)
        }
        x
      }
      it.foreach { r =>
        val ra = find(r.get(0))
        val rb = find(r.get(1))
        if (ra != rb) {
          if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val nodes = parent.keySet().toArray()
      nodes.iterator.map(n => org.apache.spark.sql.Row(n, find(n)))
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt),
      org.apache.spark.sql.types.StructField("component", dt))))
  }

  /**
   * MinHash near-dup dedup end-to-end: pairs → clusters → one surviving row
   * per cluster (minimum id wins; rows in no cluster survive untouched).
   * The composition a 100-TB pipeline actually runs.
   */
  def nearDupRepresentatives(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    val pairs = minHashDedupPairs(df, idCol, textCol, threshold)
    val comps = connectedComponents(pairs, "id_a", "id_b")
    val losers = comps.filter(col("id") =!= col("component")).select(col("id"))
    df.join(losers, df(idCol).cast("long") === losers("id"), "left_anti")
  }
}
