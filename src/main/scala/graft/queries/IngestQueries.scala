package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{ChGetters, VariantAccess}
import graft.functions.ChGetters.ParseOpts
import graft.parse.CsvGetters
import graft.shard.Sharding
import graft.types.{ChKind, ChType, ChTypeInfo}

/** Reference-parity ingest surface (SURVEY §2), phrased over the driver's
  * parquet tables: JSON and CSV parsing into the tolerant typed
  * projection, range, epoch, datetime and IP casts, shard routing, the
  * series and prometheus batch shapes, and schema inference. The
  * oracles recompute the tolerant-cast semantics from the base columns,
  * so the gate checks the SEMANTICS, not just plumbing.
  */
object IngestQueries {
  val queries: Seq[Query] = Seq(
    // --- P2+F2/F4/F6/F7: JSON -> variant -> tolerant typed projection ---
    Query("q_parse_typed",
      """SELECT event_id,
        |  event_id AS id_i64,
        |  CAST(CASE WHEN user_id < 0 THEN 0 ELSE LEAST(user_id, 255) END AS INT) AS uid_u8,
        |  event_type AS etype_str,
        |  value AS v_f64,
        |  date_trunc('second', ts) AS ts_parsed,
        |  CAST(0 AS BIGINT) AS v_as_int,
        |  false AS etype_as_bool
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      // repartition the synthesized messages like a Kafka source would be
      // (the local parquet is one small file -> one scan partition)
      val raw = Tables(s, dir).events
        .repartition(s.sparkContext.defaultParallelism)
        .select(
        col("event_id"),
        to_json(struct(
          col("event_id").as("id"),
          col("user_id").as("uid"),
          col("event_type").as("etype"),
          col("value").as("v"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))).as("raw"))
      val msg = ChGetters.parsed(col("raw"))
      def f(n: String, k: ChKind) = VariantAccess.read(msg, Some(n), ChTypeInfo(k), opts)
      raw.select(
        col("event_id"),
        f("id", ChKind.Int64).as("id_i64"),
        f("uid", ChKind.UInt8).cast(IntegerType).as("uid_u8"),
        f("etype", ChKind.Str).as("etype_str"),
        f("v", ChKind.Float64).as("v_f64"),
        f("ts_str", ChKind.DateTime).as("ts_parsed"),
        f("v", ChKind.Int64).as("v_as_int"),
        f("etype", ChKind.Bool).as("etype_as_bool"))
        .orderBy(col("event_id"))
    },

    // --- P4: CSV line -> from_csv -> tolerant text casts ----------------
    Query("q_parse_csv",
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey AS ok_i64,
        |  l_quantity AS qty_f64,
        |  -- Spark stringifies doubles with a fraction dot, so the integer
        |  -- text test always rejects the qty cell
        |  CAST(0 AS BIGINT) AS qty_as_int,
        |  l_returnflag AS flag_str,
        |  CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS ship_ts
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val raw = t.lineitem
        .repartition(s.sparkContext.defaultParallelism)
        .select(
        col("l_orderkey"), col("l_linenumber"),
        concat_ws(",",
          col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd")).as("value"))
      val schema = StructType(Seq("ok", "qty", "flag", "ship")
        .map(n => StructField(n, StringType)))
      val parsed = raw.withColumn("c",
        from_csv(col("value"), schema, Map("sep" -> ",")))
      parsed.select(
        col("l_orderkey"), col("l_linenumber"),
        CsvGetters.getSigned(col("c.ok"), nullable = false, LongType).as("ok_i64"),
        CsvGetters.getFloat(col("c.qty"), nullable = false, DoubleType).as("qty_f64"),
        CsvGetters.getSigned(col("c.qty"), nullable = false, LongType).as("qty_as_int"),
        CsvGetters.getString(col("c.flag"), nullable = false).as("flag_str"),
        CsvGetters.getDateTime(col("c.ship"), nullable = false, opts).as("ship_ts"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // --- F2/F3: range clamping on signed/unsigned targets ---------------
    Query("q_cast_clamp",
      """WITH t AS (SELECT event_id, (event_id * 7919) % 70000 - 35000 AS x FROM events)
        |SELECT event_id, x,
        |  CAST(GREATEST(LEAST(x, 127), -128) AS INT) AS as_i8,
        |  CAST(GREATEST(LEAST(x, 32767), -32768) AS INT) AS as_i16,
        |  CAST(CASE WHEN x < 0 THEN 0 ELSE LEAST(x, 255) END AS INT) AS as_u8,
        |  CAST(CASE WHEN x < 0 THEN 0 ELSE LEAST(x, 65535) END AS INT) AS as_u16
        |FROM t ORDER BY event_id""".stripMargin) { (s, dir) =>
      val x = ((col("event_id") * 7919) % 70000 - 35000).cast(LongType)
      Tables(s, dir).events
        .select(col("event_id"), x.cast(StringType).as("xs"), x.as("x"))
        .select(
          col("event_id"), col("x"),
          CsvGetters.getSigned(col("xs"), nullable = false, ByteType)
            .cast(IntegerType).as("as_i8"),
          CsvGetters.getSigned(col("xs"), nullable = false, ShortType)
            .cast(IntegerType).as("as_i16"),
          CsvGetters.getUnsigned(col("xs"), nullable = false, BigDecimal(255), ShortType)
            .cast(IntegerType).as("as_u8"),
          CsvGetters.getUnsigned(col("xs"), nullable = false, BigDecimal(65535), IntegerType)
            .as("as_u16"))
        .orderBy(col("event_id"))
    },

    // --- F7: epoch numbers with timeUnit scaling and range default ------
    Query("q_cast_epoch",
      """SELECT event_id,
        |  epoch_ms((1500000000 + event_id) * 1000) AS ts_ok,
        |  epoch_ms(0) AS ts_oor
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val sec = lit(1500000000L) + col("event_id")
      val big = col("event_id") * lit(10000000000L) // >= 2^32 -> Epoch
      Tables(s, dir).events
        .select(col("event_id"),
          sec.cast(StringType).as("s1"), big.cast(StringType).as("s2"))
        .select(
          col("event_id"),
          CsvGetters.getDateTime(col("s1"), nullable = false, opts).as("ts_ok"),
          CsvGetters.getDateTime(col("s2"), nullable = false, opts).as("ts_oor"))
        .orderBy(col("event_id"))
    },

    // --- F8: multi-layout string datetime detection. One column per
    // layout: the reference caches the first matched layout PER FIELD
    // (parser.go:157-189), so a field must be layout-consistent.
    Query("q_cast_datetime_str",
      """SELECT event_id,
        |  date_trunc('second', ts) AS p_ch,
        |  date_trunc('second', ts) AS p_rfc,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS p_date
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("s_ch"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("s_rfc"),
          date_format(col("ts"), "dd/MM/yyyy").as("s_date"))
        .select(col("event_id"),
          ChGetters.autoTimestamp(col("s_ch"), "UTC").as("p_ch"),
          ChGetters.autoTimestamp(col("s_rfc"), "UTC").as("p_rfc"),
          ChGetters.autoTimestamp(col("s_date"), "UTC").as("p_date"))
        .orderBy(col("event_id"))
    },

    // --- F9: IP validation with zero-IP defaults ------------------------
    Query("q_ip_validate",
      """SELECT event_id,
        |  CASE event_id % 3
        |    WHEN 0 THEN '10.' || (user_id % 256) || '.0.' || (event_id % 256)
        |    WHEN 1 THEN '999.' || (user_id % 256) || '.0.1'
        |    ELSE '::1' END AS ip,
        |  CASE event_id % 3
        |    WHEN 0 THEN '10.' || (user_id % 256) || '.0.' || (event_id % 256)
        |    WHEN 1 THEN '0.0.0.0'
        |    ELSE '::1' END AS ipv4_checked
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val m  = pmod(col("event_id"), lit(3))
      val o1 = pmod(col("user_id"), lit(256))
      val ip = when(m === 0, concat_ws(".", lit(10), o1, lit(0), pmod(col("event_id"), lit(256))))
        .when(m === 1, concat_ws(".", lit(999), o1, lit(0), lit(1)))
        .otherwise(lit("::1"))
      Tables(s, dir).events
        .select(col("event_id"), ip.as("ip"))
        .select(col("event_id"), col("ip"),
          CsvGetters.getIp(col("ip"), nullable = false, "0.0.0.0").as("ipv4_checked"))
        .orderBy(col("event_id"))
    },

    // --- X1: stripe sharding distribution -------------------------------
    Query("q_shard_stripe",
      """SELECT CAST((user_id // 10) % 4 AS INT) AS shard, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY shard""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .select(Sharding.stripe(col("user_id"), ChType.whichType("Int64"), 10L, 4)
          .as("shard"))
        .groupBy(col("shard")).agg(count(lit(1)).as("n"))
        .orderBy(col("shard"))
    },

    // --- X3: offset sharding distribution -------------------------------
    Query("q_shard_offset",
      """SELECT CAST(((event_id * ((user_id % 4) + 1)) >> 15) % 4 AS INT) AS shard,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY shard""".stripMargin) { (s, dir) =>
      val part = pmod(col("user_id"), lit(4))
      Tables(s, dir).events
        .select(Sharding.byOffset(col("event_id"), part, 50000, 4).as("shard"))
        .groupBy(col("shard")).agg(count(lit(1)).as("n"))
        .orderBy(col("shard"))
    },

    // --- X2: hash sharding. Oracle = golden xxh64 shard per event_type
    // (DuckDB has no XXH64; the mapping is pinned by GoHashSpec against
    // the reference's cespare/xxhash semantics) --------------------------
    Query("q_shard_hash",
      // golden XXH64(seed 0) % 8 per event_type — values pinned in
      // GoHashSpec ("event_type shard mapping is stable")
      """SELECT CAST(CASE event_type
        |    WHEN 'click' THEN 4 WHEN 'error' THEN 3 WHEN 'purchase' THEN 7
        |    WHEN 'signup' THEN 6 WHEN 'view' THEN 7 END AS INT) AS shard,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY shard""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .select(Sharding.hash(col("event_type"), 8).as("shard"))
        .groupBy(col("shard")).agg(count(lit(1)).as("n"))
        .orderBy(col("shard"))
    },

    // --- J2: left-semi join (series reload shape) -----------------------
    Query("q_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    WHERE o_orderdate >= TIMESTAMP '1997-01-01')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val c = t.customer
      val recent = t.orders.filter(col("o_orderdate") >= lit("1997-01-01"))
      c.join(recent, c("c_custkey") === recent("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // --- anti join (completeness; Catalyst-native) ----------------------
    Query("q_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val c = t.customer
      val o = t.orders
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // --- FL7: table routing predicate ------------------------------------
    Query("q_table_routing",
      """SELECT CASE WHEN event_type IN ('purchase','signup')
        |       THEN 'audit_table' ELSE 'main_table' END AS route,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY route""".stripMargin) { (s, dir) =>
      val route = when(col("event_type").isin("purchase", "signup"), lit("audit_table"))
        .otherwise(lit("main_table"))
      Tables(s, dir).events
        .select(route.as("route"))
        .groupBy(col("route")).agg(count(lit(1)).as("n"))
        .orderBy(col("route"))
    },

    // --- FL5 batch shape: first-occurrence series dedup ------------------
    Query("q_series_dedup",
      """SELECT user_id AS sid, MIN(event_id) AS first_event, COUNT(*) AS n_points
        |FROM events GROUP BY 1 ORDER BY sid""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("user_id").as("sid"))
        .agg(min(col("event_id")).as("first_event"),
          count(lit(1)).as("n_points"))
        .orderBy(col("sid"))
    },

    // --- D5/F16: prometheus two-table split ------------------------------
    Query("q_prom_metric",
      """SELECT user_id AS __series_id__, date_trunc('second', ts) AS "timestamp", value
        |FROM events ORDER BY __series_id__, "timestamp", value""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .select(col("user_id").as("__series_id__"),
          date_trunc("second", col("ts")).as("timestamp"),
          col("value"))
        .orderBy(col("__series_id__"), col("timestamp"), col("value"))
    },

    Query("q_prom_series",
      """SELECT user_id AS sid, '{"et":"' || MIN(event_type) || '"}' AS labels
        |FROM events GROUP BY 1 ORDER BY sid""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("user_id").as("sid"))
        .agg(min(col("event_type")).as("et"))
        .select(col("sid"),
          concat(lit("{\"et\":\""), col("et"), lit("\"}")).as("labels"))
        .orderBy(col("sid"))
    },

    // --- D2: distributed type inference over a JSON batch ----------------
    Query("q_schema_infer",
      """WITH keys AS (
        |  SELECT 'id' AS k, 'Int64' AS inferred, COUNT(*) AS n FROM events
        |  UNION ALL SELECT 'v', 'Float64', COUNT(*) FROM events
        |  UNION ALL SELECT 'flag', 'Bool', COUNT(*) FROM events
        |  UNION ALL SELECT 's', 'String', COUNT(*) FROM events
        |  UNION ALL SELECT 'd', 'String', COUNT(*) FROM events)
        |SELECT k, inferred, n FROM keys ORDER BY k, inferred""".stripMargin) { (s, dir) =>
      val raw = Tables(s, dir).events.select(
        to_json(struct(
          col("event_id").as("id"),
          col("value").as("v"),
          (pmod(col("user_id"), lit(2)) === 0).as("flag"),
          col("event_type").as("s"),
          date_format(col("ts"), "yyyy-MM-dd").as("d"))).as("raw"))
      val msg = ChGetters.parsed(col("raw"))
      val pairs = raw.select(explode(
        try_variant_get(msg, "$", "map<string,variant>")).as(Seq("k", "v")))
      val tag = schema_of_variant(col("v"))
      val chType = when(tag === "BOOLEAN", "Bool")
        .when(tag.isin("TINYINT", "SMALLINT", "INT", "BIGINT"), "Int64")
        .when(tag === "DOUBLE" || tag.startsWith("DECIMAL"), "Float64")
        .when(tag === "STRING", "String")
        .otherwise("Unknown")
      pairs.select(col("k"), chType.as("inferred"))
        .groupBy(col("k"), col("inferred")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"), col("inferred"))
    }
  )

  private val opts = ParseOpts(timeZone = "UTC", timeUnit = 1.0)
}
