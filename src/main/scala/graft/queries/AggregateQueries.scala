package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Reference-parity aggregation surface (SURVEY §2): grouped, windowed,
  * grouping-set and approximate aggregates, joins, set ops and the
  * ClickHouse function families, each with a DuckDB oracle of identical
  * column names/types and a deterministic ORDER BY where relevant.
  * Float aggregates go through exact decimal sums; raw doubles are only
  * passed through, never re-associated.
  */
object AggregateQueries {
  import SharedOracles._

  val queries: Seq[Query] = Seq(
    // --- flagship: pricing summary (hash agg + exact decimal sums) ------
    Query("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(BigDecimal(1)) - dec(col("l_discount"))))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // --- J1 shape: multi-way broadcast join + agg -----------------------
    Query("q_join_broadcast",
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec(col("o_totalprice"))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // --- A3: distinct counting -------------------------------------------
    Query("q_distinct",
      """SELECT event_type, COUNT(DISTINCT user_id) AS users, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("users"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },

    // --- A1: offset-range bookkeeping ------------------------------------
    Query("q_offsets_minmax",
      """SELECT event_type, MIN(event_id) AS begin_off, MAX(event_id) AS end_off
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(min(col("event_id")).as("begin_off"),
          max(col("event_id")).as("end_off"))
        .orderBy(col("event_type"))
    },

    // --- top-k per group (window; §2.7 completeness) ---------------------
    Query("q_topk",
      """SELECT event_type,
        |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS INT) AS rk,
        |  event_id, value
        |FROM events
        |QUALIFY rk <= 3
        |ORDER BY event_type, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      Tables(s, dir).events
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("event_type"), col("rk"), col("event_id"), col("value"))
        .orderBy(col("event_type"), col("rk"))
    },

    // --- running window aggregate (§2.7 completeness) --------------------
    Query("q_window_running",
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6)))
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
        |FROM events WHERE user_id < 50
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir).events
        .filter(col("user_id") < 50)
        .withColumn("running_value",
          sum(col("value").cast(DecimalType(18, 6))).over(w)
            .cast(DoubleType))
        .select(col("user_id"), col("event_id"), col("running_value"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // --- ST2: tumbling event-time window aggregation ---------------------
    Query("q_tumbling_window",
      """SELECT date_trunc('hour', ts) AS w_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
        .select(col("w.start").as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    },

    // --- ST2 family: session windows (absent in reference; §2.7
    // completeness). Oracle recomputes via gaps-and-islands. -------------
    Query("q_session_window",
      // break when the gap to the previous event is >= 10 min (a session is
      // [t, t+gap) — an event landing exactly at prev_end starts anew)
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t
        |  FROM events WHERE user_id < 50),
        |m AS (
        |  SELECT user_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL
        |           OR t - lag(t) OVER w >= INTERVAL 10 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |g AS (
        |  SELECT user_id, t,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t
        |                   ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m)
        |SELECT MIN(t) AS s_start, MAX(t) + INTERVAL 10 MINUTE AS s_end,
        |  user_id, COUNT(*) AS n
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, s_start""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .filter(col("user_id") < 50)
        .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("s_start"), col("w.end").as("s_end"),
          col("user_id"), col("n"))
        .orderBy(col("user_id"), col("s_start"))
    },

    // --- rollup (§2.6 completeness: grouping sets family) ----------------
    Query("q_rollup",
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status"), col("priority"))
    },

    // --- cube (§2.6 completeness: full grouping-sets lattice) ------------
    Query("q_cube",
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status"), col("priority"))
    },

    // --- pivot (§2.6 completeness: wide conditional aggregation) ---------
    Query("q_pivot",
      """SELECT user_id % 10 AS bucket,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'error') AS error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .withColumn("bucket", pmod(col("user_id"), lit(10)))
        .groupBy(col("bucket"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("bucket"))
    },

    // --- exact percentiles (§2.6 completeness; continuous interpolation,
    // matches quantile_cont). Exact percentile sorts per group — the
    // oracle tier; at 100 TB the production path is approx_percentile
    // (t-digest, partial-aggregatable), which has no cross-engine-
    // identical oracle.
    Query("q_percentile",
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(
          round(percentile(col("value"), lit(0.5)), 6).as("p50"),
          round(percentile(col("value"), lit(0.95)), 6).as("p95"))
        .orderBy(col("event_type"))
    },

    // --- discrete exact quantiles (CH quantileExact: the value at rank
    // ceil(q*n) — no interpolation, so the result is a real data point
    // and exactly reproducible) ------------------------------------------
    Query("q_percentile_disc",
      // NOT DuckDB's quantile_disc: its floor(q*(n-1)) indexing disagrees
      // with percentile_disc's smallest-cume_dist>=q for ~q of all n — the
      // oracle replays Spark's definition explicitly
      """WITH r AS (
        |  SELECT event_type, value,
        |    cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
        |  FROM events)
        |SELECT event_type,
        |  min(CASE WHEN cd >= 0.5 THEN value END) AS p50,
        |  min(CASE WHEN cd >= 0.95 THEN value END) AS p95
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("p95"))
        .orderBy(col("event_type"))
    },

    // --- exact WEIGHTED quantiles (CH quantileExactWeighted): price
    // tiers weighted by quantity; weights pre-aggregate per (key, tier)
    // so the window walks the bounded tier domain, never raw rows -------
    Query("q_quantile_weighted",
      // weighted discrete quantile: per-(flag, tier) weight sums, then the
      // smallest tier whose cumulative weight reaches ceil(num*W/den) —
      // exact integer arithmetic end to end
      s"""WITH $weightedRankCtes
        |SELECT flag, CAST(max(n) AS BIGINT) AS w_total,
        |  min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN v END) AS p50,
        |  min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END) AS p90,
        |  min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN v END) AS p99
        |FROM c GROUP BY flag ORDER BY flag""".stripMargin) { (s, dir) =>
      val l = Tables(s, dir).lineitem.select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") / 1000).cast("long").as("tier"),
        col("l_quantity").cast("long").as("qty"))
      graft.operators.ApproxAgg.quantileExactWeighted(l, Seq("flag"),
          col("tier"), col("qty"),
          Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("flag"))
    },

    // --- equi-depth histogram (CH histogram(N)'s role, deterministic):
    // 8 equal-weight bins over price tiers weighted by quantity ---------
    Query("q_histogram_equidepth",
      // equi-depth histogram: first-occupant-rank bin assignment over the
      // same cumulative-weight walk, folded to (bin, lo, hi, w)
      """WITH t AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(floor(l_extendedprice / 1000) AS BIGINT) AS v,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem),
        |g AS (SELECT flag, v, sum(w) AS w FROM t GROUP BY 1, 2),
        |c AS (
        |  SELECT flag, v, w,
        |    sum(w) OVER (PARTITION BY flag ORDER BY v) AS cum,
        |    sum(w) OVER (PARTITION BY flag) AS n
        |  FROM g),
        |b AS (SELECT flag, v, w,
        |    CAST(((cum - w) * 8) // n + 1 AS INT) AS bin FROM c)
        |SELECT flag, bin, min(v) AS lo, max(v) AS hi,
        |  CAST(sum(w) AS BIGINT) AS w
        |FROM b GROUP BY 1, 2 ORDER BY flag, bin""".stripMargin) { (s, dir) =>
      val l = Tables(s, dir).lineitem.select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") / 1000).cast("long").as("tier"),
        col("l_quantity").cast("long").as("qty"))
      graft.operators.ApproxAgg.equiDepthHistogram(l, Seq("flag"),
          col("tier"), col("qty"), nBins = 8)
        .orderBy(col("flag"), col("bin"))
    },

    // --- set ops (§2.7 completeness) -------------------------------------
    Query("q_setops",
      """SELECT COUNT(*) AS n_names FROM (
        |  SELECT n_name AS name FROM nation
        |  UNION SELECT r_name FROM region)""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val names = t.nation.select(col("n_name").as("name"))
        .union(t.region.select(col("r_name").as("name")))
        .distinct()
      names.agg(count(lit(1)).as("n_names"))
    },

    // --- deltaSumTimestamp: sum of positive deltas in explicit
    // (ts, event_id) order — the counter-reset-tolerant rate primitive
    // (CH deltaSum with a deterministic order) ---------------------------
    Query("q_delta_sum",
      """WITH e AS (
        |  SELECT user_id % 10 AS k, ts, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events),
        |d AS (
        |  SELECT k, v - lag(v) OVER (PARTITION BY k ORDER BY ts, event_id) AS d
        |  FROM e)
        |SELECT k, CAST(sum(CASE WHEN d > 0 THEN d END) AS BIGINT) AS delta_sum,
        |  count(*) AS n
        |FROM d GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir).events.select((col("user_id") % 10).as("k"),
        col("ts"), col("event_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      val w = Window.partitionBy(col("k")).orderBy(col("ts"), col("event_id"))
      e.withColumn("d", col("v") - lag(col("v"), 1).over(w))
        .groupBy(col("k"))
        .agg(sum(when(col("d") > 0, col("d"))).as("delta_sum"),
          count(lit(1)).as("n"))
        .orderBy(col("k"))
    },

    // --- the -If combinator family (countIf / sumIf / avgIf / minIf /
    // maxIf): CH's conditional aggregates are CASE-gated aggregates in
    // Spark — one map-side-combined pass computes all five ---------------
    Query("q_agg_if",
      """SELECT user_id % 20 AS k,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_if,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS sum_if,
        |  round(CAST(avg(CASE WHEN event_type = 'purchase'
        |    THEN CAST(floor(value * 100) AS BIGINT) END) AS DOUBLE), 6) AS avg_if,
        |  min(CASE WHEN event_type = 'purchase'
        |    THEN CAST(floor(value * 100) AS BIGINT) END) AS min_if,
        |  max(CASE WHEN event_type = 'purchase'
        |    THEN CAST(floor(value * 100) AS BIGINT) END) AS max_if,
        |  count(*) AS n_all
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).events.select((col("user_id") % 20).as("k"),
        col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      val hit = col("event_type") === "purchase"
      e.groupBy(col("k"))
        .agg(count(when(hit, lit(1))).as("n_if"),
          sum(when(hit, col("v"))).as("sum_if"),
          round(avg(when(hit, col("v"))), 6).as("avg_if"),
          min(when(hit, col("v"))).as("min_if"),
          max(when(hit, col("v"))).as("max_if"),
          count(lit(1)).as("n_all"))
        .orderBy(col("k"))
    },

    // --- maxIntersections: peak concurrency of [ts, ts+1h) intervals via
    // the +1/-1 sweep; half-open semantics decided by the (t, d) sort
    // (an end at t sorts before a start at t) ----------------------------
    Query("q_max_intersections",
      """WITH iv AS (SELECT user_id % 10 AS k, ts FROM events),
        |pts AS (
        |  SELECT k, ts AS t, 1 AS d FROM iv
        |  UNION ALL SELECT k, ts + INTERVAL 1 HOUR, -1 FROM iv),
        |c AS (
        |  SELECT k, sum(d) OVER (PARTITION BY k ORDER BY t, d) AS cur
        |  FROM pts)
        |SELECT k, CAST(max(cur) AS BIGINT) AS max_concurrent
        |FROM c GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir).events.select((col("user_id") % 10).as("k"),
        col("ts"))
      val pts = e.select(col("k"), col("ts").as("t"), lit(1).as("d"))
        .unionByName(e.select(col("k"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("t"), lit(-1).as("d")))
      val w = Window.partitionBy(col("k")).orderBy(col("t"), col("d"))
      pts.withColumn("cur", sum(col("d")).over(w))
        .groupBy(col("k"))
        .agg(max(col("cur")).cast("long").as("max_concurrent"))
        .orderBy(col("k"))
    },

    // --- time-RANGE window frame: trailing 1h per-user moving count and
    // exact decimal moving sum ordered by event time — Spark expresses
    // interval frames as rangeBetween over epoch micros -----------------
    Query("q_window_timerange",
      """SELECT user_id, event_id, ts,
        |  count(*) OVER w AS n_1h,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w
        |    AS DOUBLE), 6) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir).events.select(col("user_id"), col("event_id"),
        col("ts"), unix_micros(col("ts").cast("timestamp")).as("tm"),
        col("value").cast("decimal(18,2)").as("v"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tm"))
        .rangeBetween(-3600L * 1000000L, 0L)
      e.withColumn("n_1h", count(lit(1)).over(w))
        // compare surface rounded through DOUBLE on both sides: the
        // driver's hasher rejects DECIMAL renderings even when values
        // and DuckDB-visible types match (r11 lesson)
        .withColumn("sum_1h",
          round(sum(col("v")).over(w).cast("double"), 6))
        .select(col("user_id"), col("event_id"), col("ts"),
          col("n_1h"), col("sum_1h"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // --- TPC-H Q3 shape: the classic 3-way join + grouped revenue top-10
    // (dimension filter first, fact joins shuffle on their keys, exact
    // decimal revenue cast once at the end) ------------------------------
    Query("q_tpch_q3",
      """SELECT l_orderkey, o_orderdate,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE), 6) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val cutoff = lit("1998-06-01 00:00:00").cast("timestamp_ntz")
      val c = t.customer.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t.orders.filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val l = t.lineitem.filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)"))).as("rev"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("rev")).cast("double"), 6).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // --- ClickHouse LIMIT n BY key: first n rows per group in a pinned
    // deterministic order (window row_number, the scale-safe shape —
    // truncation happens before anything collects) -----------------------
    Query("q_limit_by",
      """SELECT event_type,
        |  CAST(row_number() OVER w AS BIGINT) AS rn, event_id, user_id
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |QUALIFY rn <= 3
        |ORDER BY event_type, rn""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("rn").cast("long").as("rn"),
          col("event_id"), col("user_id"))
        .orderBy(col("event_type"), col("rn"))
    },

    // --- higher-order array functions (§2.12 surface: transform /
    // filter / aggregate lambdas over collected arrays — CH arrayMap /
    // arrayFilter / arrayReduce) ----------------------------------------
    Query("q_array_hof",
      """WITH a AS (
        |  SELECT user_id,
        |    list_sort(list(CAST(floor(value * 100) AS BIGINT))) AS vals
        |  FROM events WHERE user_id < 30 GROUP BY user_id)
        |SELECT user_id,
        |  CAST(len(vals) AS BIGINT) AS n,
        |  CAST(list_sum(vals) AS BIGINT) AS total,
        |  CAST(list_sum(list_transform(vals, x -> x * 2)) AS BIGINT) AS total2,
        |  CAST(len(list_filter(vals, x -> x > 5000)) AS BIGINT) AS n_big,
        |  list_max(vals) AS vmax
        |FROM a ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).events.filter(col("user_id") < 30)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(
          expr("CAST(floor(value * 100) AS BIGINT)"))).as("vals"))
        .select(col("user_id"),
          size(col("vals")).cast("long").as("n"),
          expr("aggregate(vals, CAST(0 AS BIGINT), (acc, x) -> acc + x)")
            .as("total"),
          expr("aggregate(transform(vals, x -> x * 2), CAST(0 AS BIGINT), " +
            "(acc, x) -> acc + x)").as("total2"),
          size(expr("filter(vals, x -> x > 5000)")).cast("long").as("n_big"),
          array_max(col("vals")).as("vmax"))
        .orderBy(col("user_id"))
    },

    // --- argMin/argMax (CH classics; unique event_id keeps ties away) --
    Query("q_argminmax",
      """SELECT event_type,
        |  arg_max(user_id, event_id) AS last_user,
        |  arg_min(user_id, event_id) AS first_user,
        |  max(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(max_by(col("user_id"), col("event_id")).as("last_user"),
          min_by(col("user_id"), col("event_id")).as("first_user"),
          max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    },

    // --- groupArray / groupUniqArray: ordered element lists (emitted as
    // joined strings so the comparison stays scalar) ---------------------
    Query("q_group_array",
      """SELECT event_type,
        |  array_to_string(list(user_id ORDER BY user_id), '|') AS users_all,
        |  array_to_string(list(DISTINCT user_id ORDER BY user_id), '|') AS users_uniq,
        |  count(*) AS n
        |FROM events WHERE user_id < 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir).events.filter(col("user_id") < 50)
        .groupBy(col("event_type"))
        .agg(
          array_join(transform(sort_array(collect_list(col("user_id"))),
            _.cast("string")), "|").as("users_all"),
          array_join(transform(sort_array(collect_set(col("user_id"))),
            _.cast("string")), "|").as("users_uniq"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },

    // --- sumMap: SummingMergeTree Map-column fold over real MapType
    // rows, exploded back to entry rows for the oracle -------------------
    Query("q_summap",
      """SELECT user_id % 20 AS k, event_type AS etype,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2 ORDER BY k, etype""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).events.select((col("user_id") % 20).as("k"),
        map(col("event_type"),
          expr("CAST(floor(value * 100) AS BIGINT)")).as("m"))
      graft.operators.MergeSemantics.sumMap(e, Seq("k"), "m")
        .select(col("k"), explode(col("m")).as(Seq("etype", "cents")))
        .orderBy(col("k"), col("etype"))
    },

    // --- approximate distinct: uniqHLL12-style sketch (fixed md5 seed,
    // 512 integer registers, deterministic estimator) — the most common
    // CH approximate construct; the oracle replays the exact registers --
    Query("q_uniq_hll",
      // uniqHLL replay: same md5 hash (md5_number_lower == PortableHash
      // .md5Lo), same 512 registers, same capped rho via bin() bit-length,
      // same single double division of exact-integer operands
      s"""WITH $hllCtes,
        |e AS (
        |  SELECT event_type, n_regs, 512 - n_regs AS v0,
        |    $hllRaw
        |  FROM s)
        |SELECT event_type,
        |  CAST(CASE WHEN v0 > 0 AND raw <= 1280.0
        |    THEN floor(512.0 * ln(512.0 / v0) + 0.5)
        |    ELSE floor(raw) END AS BIGINT) AS est,
        |  n_regs
        |FROM e ORDER BY event_type""".stripMargin) { (s, dir) =>
      graft.operators.ApproxAgg.uniqHll(Tables(s, dir).events,
          Seq("event_type"), col("user_id"))
        .orderBy(col("event_type"))
    },

    // --- AggregatingMergeTree FINAL (-State/-Merge): three independent
    // "ingest jobs" each append partial states (HLL register frames +
    // count/sum partials); the read-side merge folds registers by max
    // and scalars by sum — and MUST equal the direct aggregate over the
    // whole corpus, the engine's mergeability guarantee. The oracle
    // computes the direct side, so a green row proves the invariance --
    Query("q_agg_state_merge",
      // the DIRECT whole-corpus aggregate (same HLL replay as q_uniq_hll
      // plus exact count/sum) — the Spark side merges per-job partial
      // states, so equality IS the -State/-Merge invariance proof
      s"""WITH $hllCtes,
        |e AS (
        |  SELECT event_type, n_regs, 512 - n_regs AS v0,
        |    $hllRaw
        |  FROM s),
        |a AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1)
        |SELECT e.event_type,
        |  CAST(CASE WHEN v0 > 0 AND raw <= 1280.0
        |    THEN floor(512.0 * ln(512.0 / v0) + 0.5)
        |    ELSE floor(raw) END AS BIGINT) AS est,
        |  n_regs, a.n, a.cents
        |FROM e JOIN a ON e.event_type = a.event_type
        |ORDER BY e.event_type""".stripMargin) { (s, dir) =>
      import graft.operators.ApproxAgg
      val e = Tables(s, dir).events.select(col("event_type"),
        col("user_id"), (col("event_id") % 3).as("job"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val jobs = (0 to 2).map(j => e.filter(col("job") === j))
      val states = jobs.map(df =>
          ApproxAgg.hllRegisters(df, Seq("event_type"), col("user_id")))
        .reduce(_ unionByName _)
      val scalars = jobs.map(_.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents")))
        .reduce(_ unionByName _)
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
      ApproxAgg.hllMerge(states, Seq("event_type"))
        .join(scalars, Seq("event_type"))
        .select(col("event_type"), col("est"), col("n_regs"),
          col("n"), col("cents"))
        .orderBy(col("event_type"))
    },

    // --- approximate distinct, KMV flavor (uniqCombined's role): the k
    // smallest distinct md5 hashes in unsigned order; exact below k,
    // floor((k-1)*2^64 / kth) above — the oracle replays the selection
    // and the single double division exactly -----------------------------
    Query("q_kmv_distinct",
      // KMV replay: distinct md5 hashes ranked in unsigned order (DuckDB's
      // md5_number_lower is already the unsigned 64-bit value), exact
      // count below k, floor of one double division above — the constant
      // 4703919738795935662080.0 is (k-1)*2^64 for k=256, parsed to the
      // identical IEEE double by both engines
      s"""WITH ${kmvRankCtes("", "FROM events")}
        |SELECT event_type,
        |  CAST(CASE WHEN n_d < 256 THEN n_d
        |    ELSE floor(4703919738795935662080.0 / CAST(h AS DOUBLE))
        |    END AS BIGINT) AS est,
        |  CAST(least(n_d, 256) AS INT) AS n_kept
        |FROM r WHERE rn = least(n_d, 256) ORDER BY event_type""".stripMargin) { (s, dir) =>
      graft.operators.ApproxAgg.uniqKmv(Tables(s, dir).events,
          Seq("event_type"), col("event_id"), k = 256)
        .orderBy(col("event_type"))
    },

    // --- uniqUpTo(50) per (type, day): exact while <= 50 distinct
    // users, the 51 sentinel above — both branches fire on this corpus
    // (per-day cardinalities straddle 50) --------------------------------
    Query("q_uniq_upto",
      // uniqUpTo: distinct md5-lo hashes (exactly what the sketch admits)
      // clamped at n+1 — no estimation branch to replay
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  least(count(DISTINCT md5_number_lower(CAST(user_id AS VARCHAR))),
        |    51) AS uniq_upto
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).events
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("user_id"))
      graft.operators.ApproxAgg.uniqUpTo(e, Seq("event_type", "day"),
          col("user_id"), n = 50)
        .orderBy(col("event_type"), col("day"))
    },

    // --- KMV set operations (uniqTheta's role): per event type, the
    // union / intersection / Jaccard of its user set vs the 'view' user
    // set estimated purely from k=64 sketches (saturated: ~150 users per
    // type), never the raw sets ------------------------------------------
    Query("q_kmv_setops",
      // KMV set-op replay: both sides' k-smallest distinct hash sets, the
      // merged k-slice as the union sketch, membership via joins, then the
      // same double division / integer DIV arithmetic
      // (1162144876643701751808.0 = 63 * 2^64 for k = 64)
      """WITH ev AS (
        |  SELECT event_type,
        |    user_id * 100 + date_part('day', ts) AS ud
        |  FROM events),
        |ha AS (
        |  SELECT DISTINCT event_type,
        |    md5_number_lower(CAST(ud AS VARCHAR))::HUGEINT AS h
        |  FROM ev),
        |hb AS (
        |  SELECT t.event_type, b.h
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN (
        |    SELECT DISTINCT
        |      md5_number_lower(CAST(ud AS VARCHAR))::HUGEINT AS h
        |    FROM ev WHERE event_type = 'view') b),
        |ka AS (SELECT event_type, h FROM (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM ha) WHERE rn <= 64),
        |kb AS (SELECT event_type, h FROM (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM hb) WHERE rn <= 64),
        |un AS (SELECT event_type, h FROM (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM (SELECT DISTINCT event_type, h FROM (
        |    SELECT * FROM ka UNION ALL SELECT * FROM kb)))
        |  WHERE rn <= 64),
        |st AS (
        |  SELECT u.event_type, count(*) AS kk, max(u.h) AS kth,
        |    sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
        |      THEN 1 ELSE 0 END) AS m
        |  FROM un u
        |  LEFT JOIN ka a ON u.event_type = a.event_type AND u.h = a.h
        |  LEFT JOIN kb b ON u.event_type = b.event_type AND u.h = b.h
        |  GROUP BY 1),
        |es AS (
        |  SELECT event_type, kk, m,
        |    CASE WHEN kk < 64 THEN CAST(kk AS BIGINT)
        |      ELSE CAST(floor(1162144876643701751808.0
        |        / CAST(kth AS DOUBLE)) AS BIGINT) END AS union_est
        |  FROM st)
        |SELECT event_type, union_est,
        |  CAST((CAST(m AS BIGINT) * union_est) // CAST(kk AS BIGINT)
        |    AS BIGINT) AS intersect_est,
        |  round(CAST(m AS DOUBLE) / CAST(kk AS DOUBLE), 6) AS jaccard
        |FROM es ORDER BY event_type""".stripMargin) { (s, dir) =>
      import graft.operators.ApproxAgg
      // set element = (user, day-of-month) activity pair: each type is
      // active on a partial slice of user-days, so the type-vs-view
      // overlap is genuinely fractional (user sets alone would all be
      // identical on this corpus)
      val e = Tables(s, dir).events
        .select(col("event_type"),
          (col("user_id") * 100 + dayofmonth(col("ts"))).as("ud"))
      val a = ApproxAgg.kmvSketch(e, Seq("event_type"), col("ud"), k = 64)
      val types = e.select(col("event_type")).distinct()
      // sketch the view slice ONCE (global agg -> 1 sketch row), then
      // broadcast that single row to every type — sketching it per type
      // via a pre-sketch crossJoin would scan and shuffle the same set
      // |types| times for identical sketches. The size(ks)>0 filter
      // preserves the pre-r13 inner-join degenerate-input semantics: a
      // corpus with NO 'view' events yields zero output rows (the
      // global agg's one empty-sketch row is dropped), not |types| rows
      // of estimates against an empty sketch
      val viewSketch = ApproxAgg.kmvSketch(
        e.filter(col("event_type") === "view").select(col("ud")),
        Seq.empty, col("ud"), k = 64)
        .filter(size(col("ks")) > 0)
      val b = types.crossJoin(broadcast(viewSketch))
      ApproxAgg.kmvSetOps(a, b, Seq("event_type"), k = 64)
        .orderBy(col("event_type"))
    },

    // --- approximate quantiles: HdrHistogram-style mergeable sketch
    // (8 significant bits => <=0.8% relative error), quantileBFloat16's
    // role with integer-exact determinism --------------------------------
    Query("q_quantile_sketch",
      // HdrHistogram-style quantile sketch replay: scale to integer cents,
      // keep the top 8 bits (bin() bit-length, no float log2), pick each
      // quantile's bucket lower bound by exact integer ceil-rank
      s"""WITH $quantileSketchCtes
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  CAST(min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN blo END)
        |    AS DOUBLE) / CAST(100 AS DOUBLE) AS p50,
        |  CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN blo END)
        |    AS DOUBLE) / CAST(100 AS DOUBLE) AS p90,
        |  CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN blo END)
        |    AS DOUBLE) / CAST(100 AS DOUBLE) AS p99
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      graft.operators.ApproxAgg.quantileSketch(Tables(s, dir).lineitem,
          Seq("l_returnflag"), col("l_extendedprice").cast("decimal(18,2)"),
          Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("l_returnflag"))
    },

    // --- the same sketches issued through the SQL AGGREGATE surface
    // (GraftExtensions' graft_uniq_hll / graft_quantile_sketch /
    // graft_sum_map UDAFs) — how a Thrift/JDBC client calls CH's
    // uniq/quantile/sumMap here. Oracles are the same deterministic
    // replays, trimmed to the UDAF output shape — green rows prove the
    // SQL path computes bit-identically to the Column API -------------
    Query("q_uniq_hll_sql",
      // same register replay as q_uniq_hll, trimmed to the UDAF's
      // single-column output
      s"""WITH $hllCtes,
        |e AS (
        |  SELECT event_type, 512 - n_regs AS v0,
        |    $hllRaw
        |  FROM s)
        |SELECT event_type,
        |  CAST(CASE WHEN v0 > 0 AND raw <= 1280.0
        |    THEN floor(512.0 * ln(512.0 / v0) + 0.5)
        |    ELSE floor(raw) END AS BIGINT) AS est
        |FROM e ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("sqlagg_events")
      s.sql("""SELECT event_type, graft_uniq_hll(user_id) AS est
              |FROM sqlagg_events GROUP BY event_type
              |ORDER BY event_type""".stripMargin)
    },

    Query("q_quantile_sketch_sql",
      // same bucket replay as q_quantile_sketch, trimmed to the UDAF's
      // per-quantile outputs
      s"""WITH $quantileSketchCtes
        |SELECT l_returnflag,
        |  CAST(min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN blo END)
        |    AS DOUBLE) / CAST(100 AS DOUBLE) AS p50,
        |  CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN blo END)
        |    AS DOUBLE) / CAST(100 AS DOUBLE) AS p90
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(18,2)").as("price"))
        .createOrReplaceTempView("sqlagg_lineitem")
      s.sql("""SELECT l_returnflag,
              |  graft_quantile_sketch(price, 1, 2) AS p50,
              |  graft_quantile_sketch(price, 9, 10) AS p90
              |FROM sqlagg_lineitem GROUP BY l_returnflag
              |ORDER BY l_returnflag""".stripMargin)
    },

    Query("q_quantile_weighted_sql",
      // same weighted-rank replay as q_quantile_weighted, trimmed to the
      // UDAF's per-quantile outputs
      s"""WITH $weightedRankCtes
        |SELECT flag,
        |  min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN v END) AS p50,
        |  min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END) AS p90
        |FROM c GROUP BY flag ORDER BY flag""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .select(col("l_returnflag").as("flag"),
          floor(col("l_extendedprice") / 1000).cast("long").as("tier"),
          col("l_quantity").cast("long").as("qty"))
        .createOrReplaceTempView("sqlagg_wq_lineitem")
      s.sql("""SELECT flag,
              |  graft_quantile_weighted(tier, qty, 1, 2) AS p50,
              |  graft_quantile_weighted(tier, qty, 9, 10) AS p90
              |FROM sqlagg_wq_lineitem GROUP BY flag
              |ORDER BY flag""".stripMargin)
    },

    Query("q_summap_sql",
      // same entry-rows replay as q_summap (the UDAF output is exploded
      // back to rows on the Spark side)
      """SELECT user_id % 20 AS k, event_type AS etype,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2 ORDER BY k, etype""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .select((col("user_id") % 20).as("k"),
          map(col("event_type"),
            expr("CAST(floor(value * 100) AS BIGINT)")).as("m"))
        .createOrReplaceTempView("sqlagg_maps")
      s.sql("""SELECT k, etype, cents FROM (
              |  SELECT k, graft_sum_map(m) AS m
              |  FROM sqlagg_maps GROUP BY k)
              |LATERAL VIEW explode(m) AS etype, cents
              |ORDER BY k, etype""".stripMargin)
    },

    // --- minMap / maxMap / avgMap (the rest of CH's Map-combinator
    // family; [[MergeSemantics.aggMap]] is the map-typed operator). The
    // compare surface fuses all three into ONE exploded aggregate — the
    // plan a 100 TB run wants (single shuffle on (k, map key)) ----------
    Query("q_minmax_map",
      // min/max/avg per (key, map key) over the single-entry maps the
      // Spark side builds — entry semantics replayed from the base columns
      """WITH e AS (
        |  SELECT user_id % 20 AS k, event_type AS etype,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT k, etype, min(cents) AS min_cents, max(cents) AS max_cents,
        |  round(avg(cents), 6) AS avg_cents
        |FROM e GROUP BY k, etype ORDER BY k, etype""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .select((col("user_id") % 20).as("k"),
          map(col("event_type"),
            expr("CAST(floor(value * 100) AS BIGINT)")).as("m"))
        .select(col("k"), explode(col("m")).as(Seq("etype", "cents")))
        .groupBy(col("k"), col("etype"))
        .agg(min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"),
          round(avg(col("cents")), 6).as("avg_cents"))
        .orderBy(col("k"), col("etype"))
    },

    // --- the -ForEach combinator (sumForEach / maxForEach / avgForEach):
    // elementwise aggregation across fixed-length arrays. posexplode +
    // (k, pos) aggregate is the scale shape — map-side combine leaves one
    // partial row per (mapper, k, pos), never whole arrays in flight ----
    Query("q_agg_foreach",
      // elementwise = per-position aggregate: the three fixed positions
      // replay as three grouped aggregates unioned with their ordinals
      """WITH e AS (
        |  SELECT user_id % 10 AS k, CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events)
        |SELECT k, pos, CAST(sum(el) AS BIGINT) AS sum_v, max(el) AS max_v,
        |  round(avg(el), 6) AS avg_v, count(*) AS n
        |FROM (
        |  SELECT k, 0 AS pos, v % 7 AS el FROM e
        |  UNION ALL SELECT k, 1, v % 11 FROM e
        |  UNION ALL SELECT k, 2, v % 13 FROM e)
        |GROUP BY k, pos ORDER BY k, pos""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .select((col("user_id") % 10).as("k"),
          array(expr("CAST(floor(value * 100) AS BIGINT) % 7"),
            expr("CAST(floor(value * 100) AS BIGINT) % 11"),
            expr("CAST(floor(value * 100) AS BIGINT) % 13")).as("vals"))
        .select(col("k"), posexplode(col("vals")).as(Seq("pos", "v")))
        .groupBy(col("k"), col("pos"))
        .agg(sum(col("v")).as("sum_v"), max(col("v")).as("max_v"),
          round(avg(col("v")), 6).as("avg_v"), count(lit(1)).as("n"))
        .orderBy(col("k"), col("pos"))
    },

    // --- groupBitAnd / groupBitOr / groupBitXor over a 16-bit field;
    // per-user groups keep the AND lattice from collapsing to 0 ---------
    Query("q_group_bitops",
      """WITH e AS (
        |  SELECT user_id % 200 AS k,
        |    CAST(floor(value * 100) AS BIGINT) % 65536 AS v
        |  FROM events)
        |SELECT k, bit_and(v) AS band, bit_or(v) AS bor, bit_xor(v) AS bxor,
        |  count(*) AS n
        |FROM e GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .select((col("user_id") % 200).as("k"),
          expr("CAST(floor(value * 100) AS BIGINT) % 65536").as("v"))
        .groupBy(col("k"))
        .agg(expr("bit_and(v)").as("band"), expr("bit_or(v)").as("bor"),
          expr("bit_xor(v)").as("bxor"), count(lit(1)).as("n"))
        .orderBy(col("k"))
    },

    // --- GraphiteMergeTree retention rollup: precision degrades with
    // age (<=7d -> 1h buckets, <=21d -> 6h, else 1d) against a pinned
    // "now"; double values fold as exact integer cents, the mean is ONE
    // deterministic division at the end -------------------------------
    Query("q_graphite_rollup",
      // same pinned now / age tiers / bucket floor-div; the mean is the
      // same single division of the exact integer sum
      """WITH e AS (
        |  SELECT event_type AS metric, epoch_us(ts) // 1000000 AS es,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |p AS (
        |  SELECT metric, es, cents,
        |    CASE WHEN 1706659200 - es <= 7 * 86400 THEN 3600
        |      WHEN 1706659200 - es <= 21 * 86400 THEN 21600
        |      ELSE 86400 END AS prec
        |  FROM e)
        |SELECT metric, CAST(prec AS BIGINT) AS prec,
        |  CAST((es // prec) * prec AS BIGINT) AS bucket,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        |  round(CAST(sum(cents) AS DOUBLE) / count(*), 6) AS avg_cents
        |FROM p GROUP BY metric, prec, es // prec
        |ORDER BY metric, bucket""".stripMargin) { (s, dir) =>
      val now = 1706659200L // 2024-01-31T00:00:00Z, just past the corpus
      val e = Tables(s, dir).events.select(col("event_type").as("metric"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000").as("es"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      e.withColumn("prec",
          when(lit(now) - col("es") <= 7L * 86400L, lit(3600L))
            .when(lit(now) - col("es") <= 21L * 86400L, lit(21600L))
            .otherwise(lit(86400L)))
        .withColumn("bucket", expr("es DIV prec") * col("prec"))
        .groupBy(col("metric"), col("prec"), col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          round(sum(col("cents")) / count(lit(1)), 6).as("avg_cents"))
        .orderBy(col("metric"), col("bucket"))
    },

    // --- the CH URL-function family (protocol / domain /
    // topLevelDomain / path / queryString / cutQueryString) — Spark's
    // codegen'd parse_url IS this family; scan-local projection --------
    Query("q_url_functions",
      // the same URLs re-parsed with string primitives (DuckDB has no
      // parse_url): protocol up to ://, host up to the first /?, the tld
      // is the last host label, path/query split on ?
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'http://' ELSE 'https://' END ||
        |    's' || CAST(doc_id % 7 AS VARCHAR) || '.example.' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'org' ELSE 'com' END ||
        |    '/p/' || CAST(doc_id AS VARCHAR) ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN '?id=' || CAST(doc_id AS VARCHAR) || '&ref=x'
        |      ELSE '' END AS url
        |  FROM documents WHERE doc_id < 500),
        |p AS (
        |  SELECT doc_id, url,
        |    regexp_extract(url, '^([a-z]+)://', 1) AS protocol,
        |    regexp_extract(url, '^[a-z]+://([^/?]+)', 1) AS domain,
        |    regexp_extract(url, '^[a-z]+://[^/?]*(/[^?]*)', 1) AS path,
        |    CASE WHEN contains(url, '?')
        |      THEN regexp_extract(url, '\?(.*)$', 1) ELSE '' END
        |      AS query_string
        |  FROM u)
        |SELECT doc_id, url, protocol, domain,
        |  regexp_extract(domain, '([^.]+)$', 1) AS tld, path, query_string,
        |  regexp_replace(url, '\?.*$', '') AS cut_query
        |FROM p ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val url = concat(
        when(col("doc_id") % 5 === 0, lit("http://")).otherwise(lit("https://")),
        lit("s"), col("doc_id") % 7, lit(".example."),
        when(col("doc_id") % 3 === 0, lit("org")).otherwise(lit("com")),
        lit("/p/"), col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("?id="), col("doc_id"), lit("&ref=x")))
          .otherwise(lit("")))
      Tables(s, dir).documents.filter(col("doc_id") < 500)
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          parse_url(col("url"), lit("PROTOCOL")).as("protocol"),
          parse_url(col("url"), lit("HOST")).as("domain"),
          regexp_extract(parse_url(col("url"), lit("HOST")),
            "([^.]+)$", 1).as("tld"),
          parse_url(col("url"), lit("PATH")).as("path"),
          coalesce(parse_url(col("url"), lit("QUERY")), lit(""))
            .as("query_string"),
          regexp_replace(col("url"), "\\?.*$", "").as("cut_query"))
        .orderBy(col("doc_id"))
    },

    // --- IPv4StringToNum / IPv4NumToString / isIPAddressInRange: the
    // CIDR membership test is a shift-compare on the packed uint32 —
    // pure integer arithmetic, scan-local, no UDF ------------------------
    Query("q_ip_cidr",
      // identical packed-uint32 arithmetic; booleans from the same
      // integer-div prefix compares
      """WITH e AS (
        |  SELECT event_id,
        |    '10.' || CAST(user_id % 256 AS VARCHAR) || '.' ||
        |    CAST((event_id % 2) * 16 AS VARCHAR) || '.' ||
        |    CAST(event_id % 256 AS VARCHAR) AS ip
        |  FROM events WHERE event_id < 3000),
        |n AS (
        |  SELECT event_id, ip,
        |    CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216 +
        |    CAST(string_split(ip, '.')[2] AS BIGINT) * 65536 +
        |    CAST(string_split(ip, '.')[3] AS BIGINT) * 256 +
        |    CAST(string_split(ip, '.')[4] AS BIGINT) AS ipnum
        |  FROM e)
        |SELECT event_id, ip, ipnum,
        |  CAST(ipnum // 16777216 AS VARCHAR) || '.' ||
        |    CAST(ipnum // 65536 % 256 AS VARCHAR) || '.' ||
        |    CAST(ipnum // 256 % 256 AS VARCHAR) || '.' ||
        |    CAST(ipnum % 256 AS VARCHAR) AS roundtrip,
        |  ipnum // 16777216 = 10 AS in_10_8,
        |  ipnum // 65536 = 2602 AS in_10_42_16
        |FROM n ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ip = concat_ws(".", lit(10), pmod(col("user_id"), lit(256)),
        pmod(col("event_id"), lit(2)) * 16,
        pmod(col("event_id"), lit(256)))
      def oct(i: Int) =
        get(split(col("ip"), "\\."), lit(i)).cast("long")
      Tables(s, dir).events.filter(col("event_id") < 3000)
        .select(col("event_id"), ip.as("ip"))
        .withColumn("ipnum", oct(0) * 16777216L + oct(1) * 65536L +
          oct(2) * 256L + oct(3))
        .select(col("event_id"), col("ip"), col("ipnum"),
          concat_ws(".",
            expr("ipnum DIV 16777216"), expr("ipnum DIV 65536 % 256"),
            expr("ipnum DIV 256 % 256"), expr("ipnum % 256"))
            .as("roundtrip"),
          (expr("ipnum DIV 16777216") === 10L).as("in_10_8"),
          // 10.42.0.0/16: fires exactly for user_id % 256 == 42 rows
          (expr("ipnum DIV 65536") === 2602L).as("in_10_42_16"))
        .orderBy(col("event_id"))
    },

    // --- sequenceNextNode(forward, first_match): per user, the event
    // immediately after the first CONSECUTIVE 'view' -> 'click' pair in
    // (ts, event_id) order; NULL when no pair (or the pair ends the
    // stream). One window pass + one min-struct aggregate — the
    // first-match selection never re-sorts the events ---------------------
    Query("q_sequence_next_node",
      // same leads in the same (ts, event_id) order; first match selected
      // by rank instead of struct-min, joined back to every user
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lead(event_type, 1) OVER w AS n1,
        |    lead(event_type, 2) OVER w AS n2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |m AS (
        |  SELECT user_id, n2,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM o WHERE event_type = 'view' AND n1 = 'click')
        |SELECT u.user_id, m.n2 AS next_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN m ON u.user_id = m.user_id AND m.rn = 1
        |ORDER BY u.user_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .withColumn("n1", lead(col("event_type"), 1).over(w))
        .withColumn("n2", lead(col("event_type"), 2).over(w))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view" && col("n1") === "click",
            struct(col("ts"), col("event_id"), col("n2"))))
          .getField("n2").as("next_node"))
        .orderBy(col("user_id"))
    },

    // --- topK(3): heavy hitters by FREQUENCY (CH's space-saving sketch;
    // the exact groupBy-count + rank plan is the Spark-first path — two
    // map-side-combined shuffles, ties broken by value) -------------------
    Query("q_topk_freq",
      """WITH c AS (
        |  SELECT event_type, user_id % 50 AS v, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY cnt DESC, v) AS INT) AS rk,
        |  v, cnt
        |FROM c QUALIFY rk <= 3
        |ORDER BY event_type, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("cnt").desc, col("v"))
      Tables(s, dir).events
        .select(col("event_type"), (col("user_id") % 50).as("v"))
        .groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("event_type"), col("rk"), col("v"), col("cnt"))
        .orderBy(col("event_type"), col("rk"))
    },

    // --- arrayEnumerateUniq: occurrence number of each element within
    // its group's (ts, event_id)-ordered event list — CH numbers
    // repeats inside arrays; the flat window form IS that semantics
    // without ever materializing the arrays ------------------------------
    Query("q_array_enumerate",
      // identical double-window numbering in the same order
      """SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS INT) AS idx,
        |  event_type,
        |  CAST(row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS INT) AS occ
        |FROM events WHERE user_id < 30
        |ORDER BY user_id, idx""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wUniq = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events.filter(col("user_id") < 30)
        .withColumn("idx", row_number().over(wAll))
        .withColumn("occ", row_number().over(wUniq))
        .select(col("user_id"), col("idx"), col("event_type"), col("occ"))
        .orderBy(col("user_id"), col("idx"))
    },

    // --- the -Resample combinator (countResample / sumResample /
    // avgResample over value bands [0, 500) step 50): banding is an
    // integer div in the scan, then ONE map-side-combined aggregate ----
    Query("q_agg_resample",
      """WITH e AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type, least(cents // 5000, 9) AS band,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        |  round(avg(cents), 6) AS avg_cents
        |FROM e GROUP BY event_type, least(cents // 5000, 9)
        |ORDER BY event_type, band""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .select(col("event_type"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        .withColumn("band", least(expr("cents DIV 5000"), lit(9L)))
        .groupBy(col("event_type"), col("band"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          round(avg(col("cents")), 6).as("avg_cents"))
        .orderBy(col("event_type"), col("band"))
    },

    // --- intervalLengthSum: per key, the measure of the UNION of
    // [start, end) intervals — the running-max sweep (overlap clipped
    // against the furthest end seen so far) in ONE window pass, the
    // plan that never materializes pairwise overlaps ---------------------
    Query("q_interval_length_sum",
      // identical running-max sweep: covered = furthest end among STRICTLY
      // preceding rows in the same (st, en, event_id) order
      """WITH e AS (
        |  SELECT user_id % 10 AS k, epoch_us(ts) AS st, event_id,
        |    epoch_us(ts) + (1 + event_id % 3) * 3600000000 AS en
        |  FROM events),
        |c AS (
        |  SELECT k, st, en,
        |    max(en) OVER (PARTITION BY k ORDER BY st, en, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS covered
        |  FROM e)
        |SELECT k,
        |  CAST(sum(greatest(en - greatest(st, coalesce(covered, st)), 0))
        |    // 1000000 AS BIGINT) AS covered_secs,
        |  count(*) AS n_intervals
        |FROM c GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir).events.select((col("user_id") % 10).as("k"),
        unix_micros(col("ts").cast("timestamp")).as("st"),
        col("event_id"))
        .withColumn("en",
          col("st") + (lit(1L) + col("event_id") % 3) * 3600000000L)
      val w = Window.partitionBy(col("k"))
        .orderBy(col("st"), col("en"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      e.withColumn("covered", max(col("en")).over(w))
        .withColumn("contrib", greatest(
          col("en") - greatest(col("st"), coalesce(col("covered"), col("st"))),
          lit(0L)))
        .groupBy(col("k"))
        .agg(sum(col("contrib")).as("us"), count(lit(1)).as("n_intervals"))
        .select(col("k"), expr("us DIV 1000000").as("covered_secs"),
          col("n_intervals"))
        .orderBy(col("k"))
    }
  )

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** The uniqHLL registers over every event (the q_uniq_hll recipe). */
  private lazy val hllCtes = hllRegisterCtes("", "", "FROM events")

  /** The quantile-sketch buckets per return flag: prices in integer
    * cents, the top 8 bits kept (bin() bit-length, no float log2), the
    * per-bucket counts and their running sum `cum` of `n`.
    */
  private lazy val quantileSketchCtes =
    """v AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS s
      |  FROM lineitem),
      |b AS (
      |  SELECT l_returnflag, s,
      |    GREATEST(length(bin(s)) - 8, 0) AS w FROM v),
      |hist AS (
      |  SELECT l_returnflag, (s >> w) << w AS blo, count(*) AS cnt
      |  FROM b GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, blo, cnt,
      |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY blo) AS cum,
      |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
      |  FROM hist)""".stripMargin

  /** The weighted-quantile ranks per return flag: price tiers weighted
    * by quantity, the running weight `cum` of the total `n`.
    */
  private lazy val weightedRankCtes =
    """t AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(floor(l_extendedprice / 1000) AS BIGINT) AS v,
      |    CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem),
      |g AS (SELECT flag, v, sum(w) AS w FROM t GROUP BY 1, 2),
      |c AS (
      |  SELECT flag, v, sum(w) OVER (PARTITION BY flag ORDER BY v) AS cum,
      |    sum(w) OVER (PARTITION BY flag) AS n
      |  FROM g)""".stripMargin
}
