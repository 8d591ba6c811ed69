package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Joins

/** Event-time analytics and MergeTree semantics: as-of, temporal and
  * range joins, the Replacing/Summing/Collapsing/VersionedCollapsing
  * merges, time-series fill, and windowFunnel / sequence / retention —
  * the DataFrame operators and their SQL forms grade against one shared
  * oracle each.
  */
object EventQueries {
  import SharedOracles._

  val queries: Seq[Query] = Seq(
    Query("q_window_funnel_sql",
      // the same exists-chain replay grades the SQL-aggregate surface
      // (graft_window_funnel UDAF == the DataFrame operator, so one
      // oracle serves both)
      windowFunnelExistsOracle) { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("sqlagg_funnel_events")
      s.sql("""SELECT user_id, graft_window_funnel(ts,
              |  CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
              |    WHEN 'purchase' THEN 2 ELSE -1 END,
              |  14400, 3) AS level
              |FROM sqlagg_funnel_events
              |WHERE event_type IN ('view', 'click', 'purchase')
              |GROUP BY user_id ORDER BY user_id""".stripMargin)
    },

    Query("q_retention_sql", retentionFlagsOracle) { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("sqlagg_ret_events")
      s.sql("""SELECT user_id, r[0] AS r0, r[1] AS r1, r[2] AS r2 FROM (
              |  SELECT user_id, graft_retention(array(
              |    event_type = 'signup'
              |      AND ts < TIMESTAMP_NTZ '2024-01-08 00:00:00',
              |    ts >= TIMESTAMP_NTZ '2024-01-08 00:00:00'
              |      AND ts < TIMESTAMP_NTZ '2024-01-15 00:00:00',
              |    ts >= TIMESTAMP_NTZ '2024-01-15 00:00:00')) AS r
              |  FROM sqlagg_ret_events GROUP BY user_id)
              |ORDER BY user_id""".stripMargin)
    },

    Query("q_sequence_count_sql", sequenceCountWalkOracle) { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("sqlagg_seq_events")
      s.sql("""SELECT user_id, graft_sequence_count(ts,
              |  CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
              |    WHEN 'purchase' THEN 2 ELSE -1 END, 3) AS n_matches
              |FROM sqlagg_seq_events
              |WHERE event_type IN ('view', 'click', 'purchase')
              |GROUP BY user_id ORDER BY user_id""".stripMargin)
    },

    // --- as-of join: each purchase event picks up the user's latest
    //     click at-or-before it (point-in-time lookup; the oracle is
    //     DuckDB's native ASOF JOIN) -------------------------------------
    Query("q_asof_join",
      s"""WITH ${asOfCtes("purchase")}
        |SELECT l.event_id, l.user_id, r.b_event_id,
        |  round(r.b_value, 6) AS b_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      val (left, right) = asOfSides(s, dir, "purchase")
      Joins.asOf(left, right, Seq("user_id"), "ts",
          rightCols = Seq("b_event_id", "b_value"), ordCol = "b_event_id")
        .transform(asOfOut)
    },

    // --- as-of with tolerance: matches staler than 10 min nullify
    //     (pandas merge_asof tolerance semantics) -------------------------
    Query("q_asof_tolerance",
      // the matched right ts is selectable from an ASOF join, so the
      // tolerance nullify is a plain CASE over it
      s"""WITH ${asOfCtes("purchase")}
        |SELECT l.event_id, l.user_id,
        |  CASE WHEN r.ts >= l.ts - INTERVAL 600 SECOND
        |    THEN r.b_event_id END AS b_event_id,
        |  CASE WHEN r.ts >= l.ts - INTERVAL 600 SECOND
        |    THEN round(r.b_value, 6) END AS b_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      val (left, right) = asOfSides(s, dir, "purchase")
      Joins.asOf(left, right, Seq("user_id"), "ts",
          rightCols = Seq("b_event_id", "b_value"), ordCol = "b_event_id",
          toleranceSec = Some(600.0))
        .transform(asOfOut)
    },

    // --- temporal (SCD-2) join: each event picks the dimension VERSION
    //     whose [valid_from, valid_to) covers its ts; events before the
    //     first version or after the closed last one keep nulls ---------
    Query("q_temporal_join",
      // SCD-2 semantics ARE a plain interval-containment left join — the
      // oracle states them directly; Spark gets the same answer from the
      // one-shuffle as-of + expiry null-out
      """WITH dim AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k, v.version,
        |    TIMESTAMP '2024-01-03 00:00:00'
        |      + to_days(CAST(8 * v.version AS INT)) AS valid_from,
        |    TIMESTAMP '2024-01-03 00:00:00'
        |      + to_days(CAST(8 * (v.version + 1) AS INT)) AS valid_to,
        |    CAST(n_nationkey AS BIGINT) * 100 + v.version AS rate
        |  FROM nation, (SELECT unnest([0, 1, 2]) AS version) v)
        |SELECT e.event_id, e.user_id % 25 AS k, d.rate, d.version
        |FROM events e LEFT JOIN dim d
        |  ON (e.user_id % 25) = d.k
        |  AND e.ts >= d.valid_from AND e.ts < d.valid_to
        |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val e = t.events.select(col("event_id"), col("ts"),
        (col("user_id") % 25).as("k"))
      val base = lit("2024-01-03 00:00:00").cast("timestamp_ntz")
      val dim = t.nation
        .select(col("n_nationkey").cast("long").as("k"))
        .withColumn("version", explode(sequence(lit(0), lit(2))))
        .withColumn("valid_from",
          base + expr("make_dt_interval(8 * version, 0, 0, 0)"))
        .withColumn("valid_to",
          base + expr("make_dt_interval(8 * (version + 1), 0, 0, 0)"))
        .withColumn("rate", col("k") * 100 + col("version"))
      Joins.temporal(e, dim, Seq("k"), "ts", "valid_from", "valid_to",
          rightCols = Seq("rate", "version", "valid_to"), ordCol = "version")
        .select(col("event_id"), col("k"), col("rate"), col("version"))
        .orderBy(col("event_id"))
    },

    // --- banded range join: events matched to OVERLAPPING value bands
    //     (multi-match rows emitted once per band; bucket width 16 is
    //     deliberately unaligned with the 20-25 wide bands) -------------
    Query("q_range_join",
      // the banded equi-join answers exactly the theta containment join
      """WITH bands AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS band_id,
        |    CAST(n_nationkey AS BIGINT) * 20.0 AS lo,
        |    CAST(n_nationkey AS BIGINT) * 20.0 + 20.0
        |      + (CAST(n_nationkey AS BIGINT) % 3) * 5.0 AS hi
        |  FROM nation)
        |SELECT e.event_id, b.band_id
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |ORDER BY e.event_id, b.band_id""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val e = t.events.select(col("event_id"), col("value"))
      val bands = t.nation
        .select(col("n_nationkey").cast("long").as("band_id"))
        .withColumn("lo", col("band_id").cast("double") * 20.0)
        .withColumn("hi",
          col("lo") + 20.0 + (col("band_id") % 3).cast("double") * 5.0)
      Joins.range(e, bands, "value", "lo", "hi", bucketWidth = 16.0)
        .select(col("event_id"), col("band_id"))
        .orderBy(col("event_id"), col("band_id"))
    },

    // --- as-of, forward direction: each purchase picks up the user's
    //     EARLIEST click at-or-after it (reversed carry window; oracle is
    //     DuckDB ASOF with l.ts <= r.ts) --------------------------------
    Query("q_asof_forward",
      // forward direction: DuckDB ASOF with the inequality reversed picks
      // the EARLIEST right row at-or-after each left ts
      s"""WITH ${asOfCtes("purchase")}
        |SELECT l.event_id, l.user_id, r.b_event_id,
        |  round(r.b_value, 6) AS b_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      val (left, right) = asOfSides(s, dir, "purchase")
      Joins.asOf(left, right, Seq("user_id"), "ts",
          rightCols = Seq("b_event_id", "b_value"), ordCol = "b_event_id",
          direction = "forward")
        .transform(asOfOut)
    },

    // --- as-of, nearest direction: closer of the backward/forward
    //     candidates, ties to backward (oracle recombines two DuckDB
    //     ASOF joins with the same interval-distance rule) --------------
    Query("q_asof_nearest",
      // nearest: recombine the two ASOF directions with the identical
      // interval-distance rule (exact timestamp arithmetic; ties prefer
      // the backward match)
      s"""WITH ${asOfCtes("purchase")},
        |bk AS (
        |  SELECT l.event_id, l.user_id, l.ts,
        |    r.ts AS m_ts, r.b_event_id AS m_id, r.b_value AS m_val
        |  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
        |fw AS (
        |  SELECT l.event_id, r.ts AS m_ts, r.b_event_id AS m_id,
        |    r.b_value AS m_val
        |  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts),
        |pick AS (
        |  SELECT bk.event_id, bk.user_id,
        |    CASE WHEN bk.m_ts IS NULL THEN fw.m_id
        |         WHEN fw.m_ts IS NULL THEN bk.m_id
        |         WHEN (fw.m_ts - bk.ts) < (bk.ts - bk.m_ts) THEN fw.m_id
        |         ELSE bk.m_id END AS b_event_id,
        |    CASE WHEN bk.m_ts IS NULL THEN fw.m_val
        |         WHEN fw.m_ts IS NULL THEN bk.m_val
        |         WHEN (fw.m_ts - bk.ts) < (bk.ts - bk.m_ts) THEN fw.m_val
        |         ELSE bk.m_val END AS b_value
        |  FROM bk JOIN fw USING (event_id))
        |SELECT event_id, user_id, b_event_id, round(b_value, 6) AS b_value
        |FROM pick ORDER BY event_id""".stripMargin) { (s, dir) =>
      val (left, right) = asOfSides(s, dir, "purchase")
      Joins.asOf(left, right, Seq("user_id"), "ts",
          rightCols = Seq("b_event_id", "b_value"), ordCol = "b_event_id",
          direction = "nearest")
        .transform(asOfOut)
    },

    // --- as-of, strict inequality (pandas allowExactMatches=false): a
    //     click SELF-asof — every left row has an exact-ts match (itself)
    //     that strict mode must skip, falling back to the user's PREVIOUS
    //     click (oracle: DuckDB ASOF with l.ts > r.ts) ------------------
    Query("q_asof_strict",
      // strict inequality: the self-match at l.ts = r.ts is skipped, the
      // previous click wins (DuckDB ASOF supports the strict operator
      // directly)
      s"""WITH ${asOfCtes("click")}
        |SELECT l.event_id, l.user_id, r.b_event_id,
        |  round(r.b_value, 6) AS b_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts > r.ts
        |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      val (left, right) = asOfSides(s, dir, "click")
      Joins.asOf(left, right, Seq("user_id"), "ts",
          rightCols = Seq("b_event_id", "b_value"), ordCol = "b_event_id",
          allowExactMatches = false)
        .transform(asOfOut)
    },

    // --- ReplacingMergeTree FINAL: greatest-version row per key (the
    //     CDC upsert fold of appended rows) ------------------------------
    Query("q_replacing_merge",
      // ReplacingMergeTree FINAL: last version per key (ver unique here,
      // so row_number on ver DESC is the whole-row max struct)
      """SELECT o_orderkey % 1000 AS k, o_orderkey AS ver,
        |  o_orderstatus AS status, round(o_totalprice, 6) AS totalprice
        |FROM orders
        |QUALIFY row_number() OVER (
        |  PARTITION BY o_orderkey % 1000 ORDER BY o_orderkey DESC) = 1
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val o = Tables(s, dir).orders.select(
        (col("o_orderkey") % 1000).as("k"), col("o_orderkey").as("ver"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("totalprice"))
      graft.operators.MergeSemantics.replacingMerge(o, Seq("k"), "ver")
        .withColumn("totalprice", round(col("totalprice"), 6))
        .orderBy(col("k"))
    },

    // --- SummingMergeTree FINAL: exact decimal sums per key. The fold
    //     itself stays exact DECIMAL; the COMPARE SURFACE is rounded
    //     through DOUBLE on both sides because the driver's hasher
    //     disagrees on decimal value renderings even when DuckDB-visible
    //     types and values match (r10/r11 lesson — same as q_tpch_q3) --
    Query("q_summing_merge",
      // Compare surface rounded through DOUBLE on both sides — the
      // driver's hasher rejects DECIMAL renderings even when values and
      // DuckDB-visible types match (width-aligned casts were tried in r11
      // and still red); the exact-decimal fold is pinned by unit tests.
      """SELECT l_partkey % 500 AS k,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS price
        |FROM lineitem GROUP BY 1 ORDER BY k""".stripMargin) { (s, dir) =>
      val l = Tables(s, dir).lineitem.select(
        (col("l_partkey") % 500).as("k"),
        col("l_quantity").cast("decimal(18,2)").as("qty"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
      graft.operators.MergeSemantics.summingMerge(l, Seq("k"),
          Seq("qty", "price"))
        .select(col("k"),
          round(col("qty").cast("double"), 6).as("qty"),
          round(col("price").cast("double"), 6).as("price"))
        .orderBy(col("k"))
    },

    // --- CollapsingMergeTree FINAL: +1/-1 sign fold, net>0 keys keep
    //     their greatest-version state row -------------------------------
    Query("q_collapsing_merge",
      """WITH t AS (
        |  SELECT o_orderkey % 97 AS k,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE -1 END AS sign,
        |    o_orderkey AS ver, o_totalprice AS tp
        |  FROM orders),
        |a AS (
        |  SELECT k, sum(sign) AS net,
        |    max(CASE WHEN sign = 1 THEN ver END) AS ver
        |  FROM t GROUP BY 1)
        |SELECT a.k, a.ver, round(t.tp, 6) AS totalprice
        |FROM a JOIN t ON a.k = t.k AND a.ver = t.ver
        |WHERE a.net > 0
        |ORDER BY a.k""".stripMargin) { (s, dir) =>
      val o = Tables(s, dir).orders.select(
        (col("o_orderkey") % 97).as("k"),
        when(col("o_orderkey") % 2 === 0, 1).otherwise(-1).as("sign"),
        col("o_orderkey").as("ver"), col("o_totalprice").as("tp"))
      graft.operators.MergeSemantics.collapsingMerge(o, Seq("k"), "sign", "ver")
        .select(col("k"), col("ver"), round(col("tp"), 6).as("totalprice"))
        .orderBy(col("k"))
    },

    // --- VersionedCollapsingMergeTree FINAL: cancels pair on (key,
    //     version) — even-version states are cancelled pairwise, odd
    //     versions survive untouched, stray cancels (no matching state)
    //     surface with sign -1 instead of consuming a newer version ----
    Query("q_versioned_collapsing",
      // VersionedCollapsing: the fold replayed per (key, version) — net 0
      // pairs vanish, net != 0 keeps sgn(net) and that side's payload
      """WITH t AS (
        |  SELECT o_orderkey % 149 AS k, 1 AS sign,
        |    o_orderkey // 149 AS ver, o_totalprice AS tp FROM orders
        |  UNION ALL
        |  SELECT o_orderkey % 149, -1, o_orderkey // 149, o_totalprice
        |  FROM orders WHERE (o_orderkey // 149) % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey % 149, -1, (o_orderkey // 149) + 1000000,
        |    o_totalprice FROM orders WHERE (o_orderkey // 149) % 7 = 3),
        |a AS (
        |  SELECT k, ver, sum(sign) AS net,
        |    max(CASE WHEN sign = 1 THEN tp END) AS tp_p,
        |    max(CASE WHEN sign = -1 THEN tp END) AS tp_m
        |  FROM t GROUP BY 1, 2)
        |SELECT k, ver, CASE WHEN net > 0 THEN 1 ELSE -1 END AS sign,
        |  round(CASE WHEN net > 0 THEN tp_p ELSE tp_m END, 6) AS totalprice
        |FROM a WHERE net <> 0
        |ORDER BY k, ver""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir).orders.select(
        (col("o_orderkey") % 149).as("k"),
        expr("CAST(o_orderkey DIV 149 AS BIGINT)").as("ver"),
        col("o_totalprice").as("tp"))
      val states = base.withColumn("sign", lit(1))
      val cancels = base.filter(col("ver") % 2 === 0)
        .withColumn("sign", lit(-1))
      val strays = base.filter(col("ver") % 7 === 3)
        .withColumn("ver", col("ver") + 1000000L)
        .withColumn("sign", lit(-1))
      val rows = states.unionByName(cancels).unionByName(strays)
        .select(col("k"), col("sign"), col("ver"), col("tp"))
      graft.operators.MergeSemantics
        .versionedCollapsingMerge(rows, Seq("k"), "sign", "ver")
        .select(col("k"), col("ver"), col("sign"),
          round(col("tp"), 6).as("totalprice"))
        .orderBy(col("k"), col("ver"))
    },

    // --- fixed-bin histogram (deterministic CH histogram() stand-in):
    //     integer-div banding reuses the TimeSeries bucket discipline --
    Query("q_histogram",
      """SELECT CAST(floor(value / 20.0) AS BIGINT) AS bin,
        |  count(*) AS n, round(min(value), 6) AS lo,
        |  round(max(value), 6) AS hi
        |FROM events GROUP BY 1 ORDER BY bin""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).events
      e.select((floor(col("value") / 20.0)).cast("long").as("bin"),
          col("value"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 6).as("lo"),
          round(max(col("value")), 6).as("hi"))
        .orderBy(col("bin"))
    },

    // --- time-series resample + WITH FILL + LOCF + runningDifference +
    //     exact moving average over 6h buckets of the events stream ------
    Query("q_timeseries_fill",
      // resample + fill + LOCF (portable count-group trick) + lag delta +
      // exact decimal moving sum divided once at the end
      """WITH pts AS (
        |  SELECT user_id % 10 AS k,
        |    CAST(epoch_us(ts) // 21600000000 AS BIGINT) AS b,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |bk AS (SELECT k, b, max(v) AS v0, count(*) AS n FROM pts GROUP BY 1, 2),
        |gr AS (
        |  SELECT k, unnest(generate_series(lo, hi)) AS b FROM
        |    (SELECT k, min(b) AS lo, max(b) AS hi FROM pts GROUP BY 1)),
        |fl AS (
        |  SELECT g.k, g.b, bk.v0, coalesce(bk.n, 0) AS n,
        |    bk.v0 IS NULL AS filled
        |  FROM gr g LEFT JOIN bk ON g.k = bk.k AND g.b = bk.b),
        |lc AS (
        |  SELECT k, b, n, filled,
        |    max(v0) OVER (PARTITION BY k, grp) AS v
        |  FROM (SELECT *, count(v0) OVER (
        |    PARTITION BY k ORDER BY b) AS grp FROM fl)),
        |dl AS (
        |  SELECT k, b, v, n, filled,
        |    v - lag(v) OVER (PARTITION BY k ORDER BY b) AS delta,
        |    CASE WHEN count(v) OVER w4 > 0
        |      THEN round(CAST(sum(v) OVER w4 AS DOUBLE)
        |        / count(v) OVER w4, 6)
        |    END AS mov_avg
        |  FROM lc
        |  WINDOW w4 AS (PARTITION BY k ORDER BY b
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
        |SELECT k, b, round(CAST(v AS DOUBLE), 6) AS v, n, filled,
        |  round(CAST(delta AS DOUBLE), 6) AS delta, mov_avg FROM dl
        |ORDER BY k, b""".stripMargin) { (s, dir) =>
      import graft.operators.TimeSeries
      val e = Tables(s, dir).events
        .filter(col("event_type") === "purchase") // sparse series: real gaps
        .select((col("user_id") % 10).as("k"), col("ts"), col("value"))
      val rs = TimeSeries.resample(e, Seq("k"), "ts", stepSec = 21600,
        valueCol = col("value").cast("decimal(18,2)"))
      val filled = TimeSeries.locf(rs, Seq("k"), "b", "v0")
      val withDelta = TimeSeries.runningDelta(filled, Seq("k"), "b", "v0")
      TimeSeries.movingAvg(withDelta, Seq("k"), "b", "v0", nBuckets = 4)
        // compare surface rounded through DOUBLE on both sides: the
        // driver's hasher rejects DECIMAL renderings even when values and
        // DuckDB-visible types match (r11 lesson; mov_avg already double)
        .select(col("k"), col("b"),
          round(col("v0").cast("double"), 6).as("v"), col("n"),
          col("filled"),
          round(col("delta").cast("double"), 6).as("delta"), col("mov_avg"))
        .orderBy(col("k"), col("b"))
    },

    // --- WITH FILL ... INTERPOLATE: the same sparse resampled series,
    //     gap buckets linearly interpolated between their surrounding
    //     observations (vs locf's step carry) ---------------------------
    Query("q_timeseries_interp",
      // WITH FILL ... INTERPOLATE: same resample/grid CTEs, gap buckets
      // take prev + (next - prev) * (b - pb) / (nb - pb) — the identical
      // IEEE expression tree the Spark side evaluates
      """WITH pts AS (
        |  SELECT user_id % 10 AS k,
        |    CAST(epoch_us(ts) // 21600000000 AS BIGINT) AS b,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |bk AS (SELECT k, b, max(v) AS v0 FROM pts GROUP BY 1, 2),
        |gr AS (
        |  SELECT k, unnest(generate_series(lo, hi)) AS b FROM
        |    (SELECT k, min(b) AS lo, max(b) AS hi FROM pts GROUP BY 1)),
        |fl AS (
        |  SELECT g.k, g.b, bk.v0, bk.v0 IS NULL AS filled
        |  FROM gr g LEFT JOIN bk ON g.k = bk.k AND g.b = bk.b),
        |ip AS (
        |  SELECT k, b, filled, v0,
        |    last_value(v0 IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN v0 IS NOT NULL THEN b END IGNORE NULLS)
        |      OVER wb AS pb,
        |    first_value(v0 IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN v0 IS NOT NULL THEN b END IGNORE NULLS)
        |      OVER wf AS nb
        |  FROM fl
        |  WINDOW wb AS (PARTITION BY k ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY k ORDER BY b
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT k, b, filled,
        |  round(CASE WHEN v0 IS NOT NULL THEN CAST(v0 AS DOUBLE)
        |    ELSE CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
        |      * (CAST(b - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))
        |    END, 6) AS v
        |FROM ip ORDER BY k, b""".stripMargin) { (s, dir) =>
      import graft.operators.TimeSeries
      val e = Tables(s, dir).events
        .filter(col("event_type") === "purchase")
        .select((col("user_id") % 10).as("k"), col("ts"), col("value"))
      val rs = TimeSeries.resample(e, Seq("k"), "ts", stepSec = 21600,
        valueCol = col("value").cast("decimal(18,2)"))
      TimeSeries.interpolate(rs, Seq("k"), "b", "v0")
        .select(col("k"), col("b"), col("filled"),
          round(col("interp"), 6).as("v"))
        .orderBy(col("k"), col("b"))
    },

    // --- ClickHouse windowFunnel: deepest view->click->purchase chain
    //     within 4h of the chain start, exists-chain semantics ----------
    Query("q_window_funnel",
      // exists-chain funnel: level k iff a time-ordered chain of the first
      // k steps fits in the window measured from the chain start
      windowFunnelExistsOracle) { (s, dir) =>
      graft.operators.EventAnalytics.windowFunnel(Tables(s, dir).events,
          "user_id", "ts", "event_type",
          steps = Seq("view", "click", "purchase"), windowSec = 14400)
        .orderBy(col("user_id"))
    },

    // --- windowFunnel('strict_increase'): same funnel, chain timestamps
    //     strictly increasing (CH mode parity; the interrupt modes
    //     strict_order / strict_dedup are positional and unit-pinned) --
    Query("q_window_funnel_strict",
      // strict_increase: the same exists-chain with strictly increasing
      // chain timestamps (the greedy-earliest walk stays exact under the
      // strict inequality by the same exchange argument)
      funnelLevelOracle(">")) { (s, dir) =>
      graft.operators.EventAnalytics.windowFunnel(Tables(s, dir).events,
          "user_id", "ts", "event_type",
          steps = Seq("view", "click", "purchase"), windowSec = 14400,
          mode = "strict_increase")
        .orderBy(col("user_id"))
    },

    // --- windowFunnel('strict_dedup'): a repeat of an already-matched
    //     step interrupts the chain. The greedy per-start walk is
    //     positional, so the oracle replays it LITERALLY — a recursive
    //     CTE advancing one sorted event at a time per chain start.
    //     Every 'view' is re-planted +60s (a repeated step-0 event) so
    //     the dedup cut genuinely fires: chains whose click lands >60s
    //     after the view are interrupted here but not in default mode --
    Query("q_window_funnel_strict_dedup",
      // interrupt on a repeat of an already-matched step (e.s < w.level;
      // higher steps pass through); the +60s re-planted views make the
      // cut non-vacuous on this corpus
      funnelWalkOracle("e.s < w.level",
      plant = "\n  UNION ALL\n" +
        "  SELECT user_id AS u, epoch_us(ts + INTERVAL 60 SECOND) AS t,\n" +
        "    0 AS s FROM events WHERE event_type = 'view'")) { (s, dir) =>
      val e = Tables(s, dir).events
      val planted = e.filter(col("event_type") === "view")
        .withColumn("ts", col("ts") + expr("INTERVAL 60 SECONDS"))
      graft.operators.EventAnalytics.windowFunnel(e.unionByName(planted),
          "user_id", "ts", "event_type",
          steps = Seq("view", "click", "purchase"), windowSec = 14400,
          mode = "strict_dedup")
        .orderBy(col("user_id"))
    },

    // --- windowFunnel('strict_order'): ANY other step event between
    //     expected steps interrupts; same literal walk replay ----------
    Query("q_window_funnel_strict_order",
      // interrupt on ANY non-advancing step event
      funnelWalkOracle("true")) { (s, dir) =>
      graft.operators.EventAnalytics.windowFunnel(Tables(s, dir).events,
          "user_id", "ts", "event_type",
          steps = Seq("view", "click", "purchase"), windowSec = 14400,
          mode = "strict_order")
        .orderBy(col("user_id"))
    },

    // --- ClickHouse sequenceMatch('(?1).*(?2).*(?3)'): ordered chain
    //     with NO time bound — the funnel walk with an effectively
    //     unbounded window (10y >> the 2-day slice — only 10 of 142
    //     users complete the ordered triple that early) ----------------
    Query("q_sequence_match",
      // ordered-triple EXISTS with no window bound
      """WITH ev AS (
        |  SELECT user_id, ts, event_type FROM events
        |  WHERE event_type IN ('signup', 'view', 'purchase')
        |    AND ts < TIMESTAMP '2024-01-03 00:00:00'),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |m AS (
        |  SELECT DISTINCT a.user_id
        |  FROM ev a JOIN ev b ON a.user_id = b.user_id
        |    JOIN ev c ON a.user_id = c.user_id
        |  WHERE a.event_type = 'signup' AND b.event_type = 'view'
        |    AND c.event_type = 'purchase'
        |    AND b.ts >= a.ts AND c.ts >= b.ts)
        |SELECT u.user_id, m.user_id IS NOT NULL AS matched
        |FROM u LEFT JOIN m ON u.user_id = m.user_id
        |ORDER BY u.user_id""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).events
        .filter(col("ts") < lit("2024-01-03 00:00:00").cast("timestamp_ntz"))
      graft.operators.EventAnalytics.windowFunnel(e,
          "user_id", "ts", "event_type",
          steps = Seq("signup", "view", "purchase"),
          windowSec = 315360000L)
        .select(col("user_id"), (col("level") === 3).as("matched"))
        .orderBy(col("user_id"))
    },

    // --- ClickHouse sequenceCount('(?1).*(?2).*(?3)'): non-overlapping
    //     ordered triples, greedy automaton (oracle replays the same
    //     fold as a linear recursive CTE) ------------------------------
    Query("q_sequence_count",
      // greedy automaton replayed as a linear recursive CTE: state (level,
      // cnt) folds the (ts, stepIdx)-sorted events row by row
      sequenceCountWalkOracle) { (s, dir) =>
      graft.operators.EventAnalytics.sequenceCount(Tables(s, dir).events,
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))
    },

    // --- ClickHouse retention: week-1 signup anchor, week-2/3 activity -
    Query("q_retention", retentionFlagsOracle) { (s, dir) =>
      val e = Tables(s, dir).events
      val w1 = lit("2024-01-08 00:00:00").cast("timestamp_ntz")
      val w2 = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
      graft.operators.EventAnalytics.retention(e, "user_id", Seq(
          col("event_type") === "signup" && col("ts") < w1,
          col("ts") >= w1 && col("ts") < w2,
          col("ts") >= w2))
        .orderBy(col("user_id"))
    }
  )

  /** Greedy non-overlapping sequence-automaton replay (linear recursive
    * CTE), shared by the DataFrame operator row (`q_sequence_count`)
    * and its SQL-aggregate twin (`q_sequence_count_sql`).
    */
  private lazy val sequenceCountWalkOracle: String =
      """WITH RECURSIVE ev0 AS (
        |  SELECT user_id,
        |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
        |      ELSE 2 END AS s, ts
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |ev AS (
        |  SELECT user_id, s,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, s) AS rn
        |  FROM ev0),
        |n AS (SELECT user_id, max(rn) AS n FROM ev GROUP BY 1),
        |walk AS (
        |  SELECT user_id, CAST(0 AS BIGINT) AS rn, 0 AS level, 0 AS cnt
        |  FROM n
        |  UNION ALL
        |  SELECT w.user_id, w.rn + 1,
        |    CASE WHEN e.s = w.level THEN
        |      CASE WHEN w.level = 2 THEN 0 ELSE w.level + 1 END
        |    ELSE w.level END,
        |    w.cnt + CASE WHEN e.s = 2 AND w.level = 2 THEN 1 ELSE 0 END
        |  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
        |SELECT w.user_id, CAST(w.cnt AS INT) AS n_matches
        |FROM walk w JOIN n ON w.user_id = n.user_id AND w.rn = n.n
        |ORDER BY w.user_id""".stripMargin

  /** Anchor-gated retention-flag replay, shared by the DataFrame
    * operator row (`q_retention`) and its SQL-aggregate twin
    * (`q_retention_sql`).
    */
  private lazy val retentionFlagsOracle: String =
      """SELECT user_id,
        |  CAST(max(CASE WHEN event_type = 'signup'
        |      AND ts < TIMESTAMP '2024-01-08 00:00:00' THEN 1 ELSE 0 END)
        |    AS INT) AS r0,
        |  CAST(max(CASE WHEN event_type = 'signup'
        |      AND ts < TIMESTAMP '2024-01-08 00:00:00' THEN 1 ELSE 0 END)
        |    * max(CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00'
        |      AND ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END)
        |    AS INT) AS r1,
        |  CAST(max(CASE WHEN event_type = 'signup'
        |      AND ts < TIMESTAMP '2024-01-08 00:00:00' THEN 1 ELSE 0 END)
        |    * max(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |      THEN 1 ELSE 0 END) AS INT) AS r2
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Exists-chain funnel replay, shared by the DataFrame-operator row
    * (`q_window_funnel`) and its SQL-aggregate twin
    * (`q_window_funnel_sql`).
    */
  private lazy val windowFunnelExistsOracle: String = funnelLevelOracle(">=")

  /** Literal replay of [[graft.operators.EventAnalytics.funnelWalk]] for
    * the positional interrupt modes (strict_dedup / strict_order): per
    * chain start (each step-0 event), a recursive CTE advances one
    * (ts, step)-sorted event at a time carrying (level, cut) — exactly
    * the walk's state — and the user's funnel level is the max over all
    * of their starts. `cutExpr` is the mode's interrupt condition over
    * the incoming event `e` and walk state `w` (evaluated only when the
    * event is inside the window and does not advance the chain).
    */
  private def funnelWalkOracle(cutExpr: String, plant: String = ""): String =
    s"""WITH RECURSIVE ev0 AS (
       |  SELECT user_id AS u, epoch_us(ts) AS t,
       |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
       |      ELSE 2 END AS s
       |  FROM events WHERE event_type IN ('view', 'click', 'purchase')$plant),
       |ev AS (
       |  SELECT u, t, s,
       |    row_number() OVER (PARTITION BY u ORDER BY t, s) AS rn
       |  FROM ev0),
       |walk AS (
       |  SELECT u, rn AS rn0, rn AS j, 1 AS level,
       |    t + 14400000000 AS dl, false AS cut
       |  FROM ev WHERE s = 0
       |  UNION ALL
       |  SELECT w.u, w.rn0, e.rn,
       |    CASE WHEN e.t <= w.dl AND e.s = w.level
       |      THEN w.level + 1 ELSE w.level END,
       |    w.dl,
       |    CASE WHEN e.t > w.dl THEN true
       |         WHEN e.s = w.level THEN false
       |         ELSE ($cutExpr) END
       |  FROM walk w JOIN ev e ON e.u = w.u AND e.rn = w.j + 1
       |  WHERE NOT w.cut AND w.level < 3),
       |best AS (SELECT u, max(level) AS level FROM walk GROUP BY u)
       |SELECT e.u AS user_id, coalesce(b.level, 0) AS level
       |FROM (SELECT DISTINCT u FROM ev) e LEFT JOIN best b ON e.u = b.u
       |ORDER BY user_id""".stripMargin

  /** Exists-chain funnel level per user: a view, a click `after` it and
    * a purchase `after` that, all within 4h of the view.
    */
  private def funnelLevelOracle(after: String): String =
    s"""WITH ${funnelEventsCte("ev")},
       |u AS (SELECT DISTINCT user_id FROM ev),
       |${funnelStepCtes("l", "", "ev", after)}
       |SELECT u.user_id,
       |  ${funnelLevel("  ")} AS level
       |FROM u LEFT JOIN l1 ON u.user_id = l1.user_id
       |  LEFT JOIN l2 ON u.user_id = l2.user_id
       |  LEFT JOIN l3 ON u.user_id = l3.user_id
       |ORDER BY u.user_id""".stripMargin

  /** The as-of oracles' sides: `l` the `leftType` events, `r` the clicks
    * per (user, ts) with their max event id and its value.
    */
  private def asOfCtes(leftType: String): String =
    s"""l AS (
       |  SELECT event_id, user_id, ts FROM events WHERE event_type = '$leftType'),
       |r AS (
       |  SELECT user_id, ts, max(event_id) AS b_event_id,
       |    arg_max(value, event_id) AS b_value
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)""".stripMargin

  /** The as-of joins' sides: the `leftType` events, and every click as
    * (b_event_id, user_id, ts, b_value).
    */
  private def asOfSides(s: SparkSession, dir: String,
      leftType: String): (DataFrame, DataFrame) = {
    val e = Tables(s, dir).events
    (e.filter(col("event_type") === leftType)
      .select(col("event_id"), col("user_id"), col("ts")),
     e.filter(col("event_type") === "click")
      .select(col("event_id").as("b_event_id"), col("user_id"),
        col("ts"), col("value").as("b_value")))
  }

  /** The as-of compare surface, by left event. */
  private def asOfOut(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"), col("b_event_id"),
        round(col("b_value"), 6).as("b_value"))
      .orderBy(col("event_id"))
}
