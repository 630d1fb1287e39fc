package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{Joins, Layout, Sessionize, Similarity, Skew}
import Support._

/** Relational capabilities over the parquet tables: aggregates, windows,
  * joins (as-of, range, interval, SCD2, bloom, salted, bucketed), event-time
  * analytics and layout pruning. */
private[catalog] object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_pricing_summary", (s, d) => {
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
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,3)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("q02_top_revenue_orders", (s, d) => {
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
    },
      """SELECT o_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,3)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin),

    QuerySpec("q03_latest_order_per_customer", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin),

    QuerySpec("q04_distinct_parts_per_flag", (s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count_distinct(col("l_partkey")).as("distinct_parts"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    QuerySpec("q05_rollup_counts", (s, d) => {
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    QuerySpec("q06_events_hourly", (s, d) => {
      events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(dec3(col("value"))).cast("double").as("sum_value"))
        .orderBy("hour", "event_type")
    },
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    QuerySpec("q07_region_revenue", (s, d) => {
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
    },
      """SELECT r_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS order_cnt
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    QuerySpec("q08_semi_anti_join", (s, d) => {
      val cust = t(s, d, "customer")
      val orders = t(s, d, "orders")
      val withOrders = cust.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(lit("has_orders").as("kind"), col("c_custkey"))
      val noOrders = cust.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(lit("no_orders").as("kind"), col("c_custkey"))
      withOrders.unionAll(noOrders)
        .groupBy("kind").agg(count(lit(1)).as("cnt")).orderBy("kind")
    },
      """SELECT kind, count(*) AS cnt FROM (
        |  SELECT 'has_orders' AS kind, c_custkey FROM customer
        |    WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |  UNION ALL
        |  SELECT 'no_orders' AS kind, c_custkey FROM customer
        |    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
        |GROUP BY kind ORDER BY kind""".stripMargin),

    QuerySpec("q90_salted_join", (s, d) => {
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
    },
      // q90: the plain (unsalted) join — salting must not change a single row.
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    QuerySpec("q99_bucketed_join", (s, d) => {
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
    },
      // q99: the plain join — bucketing changes the plan, never the rows.
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    QuerySpec("q134_asof_join", (s, d) => {
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
    },
      // q134: DuckDB's NATIVE ASOF JOIN is the oracle — the union-and-window
      // Spark plan must reproduce it row for row. -1 sentinels keep the
      // nullable match columns int64/float64 on both sides. q137 runs the
      // SAME join through the bucketed skew-proof operator, so the
      // identical oracle gates it (the q33/q104 convention).
      asofOracleSql),

    QuerySpec("q137_asof_bucketed", (s, d) => {
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
    },
      asofOracleSql),

    QuerySpec("q144_asof_forward", (s, d) => {
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
    },
      // q144: DuckDB's native ASOF with the comparison flipped — the
      // forward ("next at or after") direction, same tie-proof view
      // pre-aggregation.
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
        |ORDER BY c.event_id""".stripMargin),

    QuerySpec("q145_asof_nearest", (s, d) => {
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
    },
      // q145: backward and forward native ASOF joins combined by the
      // distance rule (ties backward) — the nearest-neighbor-in-time
      // oracle.
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
        |ORDER BY c.event_id""".stripMargin),

    QuerySpec("q180_rolling_anomaly", (s, d) => {
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
    },
      // q180: same hourly buckets (epoch-hour ints), same planted spike,
      // same trailing-24 ROWS frame, same integer z² test (HUGEINT for the
      // quadratic terms = Spark's DECIMAL(38,0)).
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
        |FROM f ORDER BY event_type, hb""".stripMargin),

    QuerySpec("q181_zorder_extents", (s, d) => {
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
    },
      // q181: same width-scaling, the interleave terms generated by the
      // SAME Scala helper shape, same equal-width z buckets.
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
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin),

    QuerySpec("q191_scd2_intervals", (s, d) => {
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
    },
      // q191: the same two windows — null-safe no-op collapse, then
      // lead(ts) over the kept rows.
      scd2OracleSql),

    QuerySpec("q230_ewma_smooth", (s, d) => {
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
    },
      // q230: the SAME driver-computed weight table interpolated into both
      // engines' lag chains; the hourly mean replays the identical
      // truncating-mean → /1e6 → requantize double chain.
      ewmaOracleSql),

    QuerySpec("q222_interval_overlap_join", (s, d) => {
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
    },
      // q222: the quadratic per-user overlap join — what the bucket
      // rewrite must equal exactly.
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
        |ORDER BY cv.user_id, id_a, id_b""".stripMargin),

    QuerySpec("q223_peak_concurrency", (s, d) => {
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
    },
      // q223: the same boundary sweep — (t, delta) order, running sum,
      // max + first time at max.
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
        |ORDER BY n.user_id""".stripMargin),

    QuerySpec("q216_scd2_merge", (s, d) => {
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
    },
      // q216: the SAME full-feed rebuild — what the incremental merge of
      // (stored < Jan 15) + (batch >= Jan 15) must equal exactly.
      scd2OracleSql),

    QuerySpec("q212_bloom_join", (s, d) => {
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
    },
      // q212: the PLAIN inner join — bloom pruning must be invisible.
      """SELECT o.o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderdate >= DATE '1995-01-01'
        |  AND o.o_orderdate < DATE '1995-02-01'
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin),

    QuerySpec("q209_sliding_trends", (s, d) => {
      // Sliding-window trending: top-3 event types per OVERLAPPING
      // 1-hour window sliding every 15 minutes — each event expands to 4
      // (window, type) rows that combine map-side; the rank sees at most
      // |type vocabulary| rows per window. (count DESC, type) ties.
      Sessionize.trendingTopK(events(s, d), "ts", "event_type",
          "1 hour", "15 minutes", k = 3)
        .orderBy("start_us", "rank")
    },
      // q209: each event expands to its 4 enclosing 15-min-aligned window
      // starts (floor-to-grid minus 0..3 slides), then the same count/rank.
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
        |ORDER BY start_us, rank""".stripMargin),

    QuerySpec("q203_prune_report", (s, d) => {
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
    },
      // q203: both extent tables rebuilt (q181's z buckets + the x-sort
      // buckets), the same inclusive overlap test and permille arithmetic.
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
        |FROM lay GROUP BY layout ORDER BY layout""".stripMargin),

    QuerySpec("q202_interval_coverage", (s, d) => {
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
    },
      // q202: the same sweep — running-max-end block flags, running-sum
      // block ids, per-block extents, per-key rollup — in DuckDB windows.
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
        |ORDER BY user_id""".stripMargin),

    QuerySpec("q198_event_transitions", (s, d) => {
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
    },
      // q198: the same per-user lag chain and truncating row-share.
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
        |FROM c ORDER BY from_type, to_type""".stripMargin),

    QuerySpec("q193_scd2_lookup", (s, d) => {
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
    },
      // q193: the q191 interval build + the containment lookup, with the
      // open (null valid_to) interval handled the same way.
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
        |ORDER BY purchase_id""".stripMargin),

    QuerySpec("q168_key_concentration", (s, d) => {
      // The pre-shuffle skew read: one row with the hottest key's share,
      // the top-10 share, and the hottest key's multiple of the mean
      // (exact integer permille) over the events' type key — the number
      // that decides between a plain groupBy, AQE skew handling, and
      // explicit salting (q90).
      Skew.keyConcentrationReport(t(s, d, "events"), "event_type")
    },
      // q168: the same count table, bounded (count DESC, key) top-10, and
      // truncating permille arithmetic.
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
        |FROM tot, top""".stripMargin),

    QuerySpec("q170_event_lateness", (s, d) => {
      // Watermark tuning input: within each user's arrival order
      // (event_id), how often event time steps backwards and by at most
      // how much — exact micros, one key shuffle + streaming lag window.
      Sessionize.latenessReport(events(s, d), "user_id", "event_id", "ts")
    },
      // q170: the same per-user arrival-order lag window in exact micros.
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
        |FROM l""".stripMargin),

    QuerySpec("q135_range_join", (s, d) => {
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
    },
      // q135: the plain quadratic inequality join the bucket rewrite must
      // equal exactly.
      """WITH s AS (
        |  SELECT event_id AS signup_id, epoch_us(ts) AS lo,
        |    epoch_us(ts) + 3600000000 AS hi
        |  FROM events WHERE event_type = 'signup'),
        |p AS (
        |  SELECT event_id AS purchase_id, epoch_us(ts) AS pt
        |  FROM events WHERE event_type = 'purchase')
        |SELECT signup_id, purchase_id
        |FROM s, p WHERE p.pt >= s.lo AND p.pt <= s.hi
        |ORDER BY signup_id, purchase_id""".stripMargin),

    QuerySpec("q129_retention_cohorts", (s, d) => {
      // Retention triangle: users cohort by the epoch week of their first
      // event; each cell counts distinct cohort users active k weeks
      // later (k ≤ 12). Weeks are days-since-1970 div 7 — integer
      // arithmetic, no locale-dependent week-of-year.
      Sessionize.retentionCohorts(events(s, d), "user_id", "ts", 12)
        .orderBy("cohort_week", "week_offset")
    },
      // q129: the same epoch-week integer arithmetic and first-event join.
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
        |FROM j GROUP BY w0, woff ORDER BY cohort_week, week_offset""".stripMargin),

    QuerySpec("q128_event_funnel", (s, d) => {
      // Strict sequential funnel over the event stream: view → click →
      // purchase, each stage requiring an event at or after the user's
      // earliest qualifying previous-stage event (out-of-order events
      // don't count). Conversion vs stage 1 in integer permille.
      Sessionize.funnel(events(s, d), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy("stage_idx")
    },
      // q128: the same stage-chained min-timestamp joins; only counts leave
      // the chain, so timestamp representation differences cannot surface.
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
        |FROM s ORDER BY stage_idx""".stripMargin),

    QuerySpec("q40_sessionize", (s, d) => {
      // Gap-based sessionization via session_window (same operator runs in
      // Structured Streaming with a watermark; see StreamingSessionSuite).
      Sessionize.sessions(events(s, d), "user_id", "ts", "30 minutes",
        Seq("sum_value" -> sum(dec3(col("value"))).cast("double")))
    },
      // Spark session semantics: an event at exactly prev_ts + gap starts a NEW
      // session (windows are [start, end)), hence the strict < in the oracle.
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
        |ORDER BY user_id, session_start""".stripMargin)
  )

  /** The Morton-interleave bit terms as SQL text — `((x >> i) & 1) << 2i`
    * summed — mirroring [[Layout.zValue2]]'s shift/mask/shift Columns
    * term for term (the shared-arithmetic convention: both engines run
    * the same integer expression, so z-values agree bit-for-bit). */
  private def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

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
}
