package graft.sink

import graft.types.{ChKind, ChType, ChTypeInfo}

/** ClickHouse SQL generation + metadata parsing (SURVEY S8/S11/S12/S13,
  * D3/D5). Pure string functions so every statement the engine would issue
  * is unit-testable without a ClickHouse server; at runtime they go through
  * the JDBC escape hatch in [[ChJdbc]].
  */
object ChSql {

  private def bq(s: String): String = "`" + s + "`"

  /** S8 — column-explicit INSERT (output/clickhouse.go:493-526). */
  def insertStatement(db: String, table: String, cols: Seq[String],
      withValues: Boolean = false): String = {
    val base = s"INSERT INTO ${bq(db)}.${bq(table)} (${cols.map(bq).mkString(",")})"
    if (withValues) base + s" VALUES (${cols.map(_ => "?").mkString(",")})" else base
  }

  /** S11 — schema introspection (output/clickhouse.go:41-49,
    * clickhouse_util.go:17-67). Excludes MATERIALIZED columns.
    */
  def columnsQuery(db: String, table: String): String =
    s"SELECT name, type, default_kind FROM system.columns " +
      s"WHERE database = '$db' AND table = '$table' " +
      s"AND default_kind != 'MATERIALIZED' ORDER BY position"

  /** S11 second query — columns whose DEFAULT expression references a
    * Nullable column must be treated NotNullable (J1 self-join shape,
    * output/clickhouse.go:42-58).
    */
  def referedNullableQuery(db: String, table: String): String =
    s"SELECT a.name FROM system.columns AS a INNER JOIN system.columns AS b " +
      s"ON a.database = b.database AND a.table = b.table " +
      s"AND a.default_expression = b.name " +
      s"WHERE a.database = '$db' AND a.table = '$table' " +
      s"AND a.default_kind = 'DEFAULT' AND b.type LIKE 'Nullable%'"

  /** S12 — Distributed tables pointing at a local table
    * (output/clickhouse.go:661-696).
    */
  def distributedTablesQuery(db: String, table: String, cluster: String): String =
    s"SELECT database, name FROM system.tables WHERE engine = 'Distributed' " +
      s"AND match(engine_full, 'Distributed\\\\(\\\\s*\\'$cluster\\'\\\\s*,\\\\s*\\'$db\\'\\\\s*,\\\\s*\\'$table\\'.*\\\\)')"

  /** S10/S13 — per-shard multi-replica JDBC URLs from the
    * `system.clusters` topology rows (discovery/discovery.go:15),
    * mirroring the reference's per-shard replica lists
    * (`pool/conn.go:140-201`: one ShardConn per shard, each holding every
    * replica address of that shard, rotating to the next good replica on
    * failure). The JDBC driver's multi-host URL form
    * (`jdbc:clickhouse://h1:p1,h2:p2/db`) delegates the same failover to
    * the driver; replicas stay in replica_num order so retry order is
    * deterministic.
    *
    * @param topology rows of (shard_num, replica_num, host, port) of
    *                 `system.clusters`, ordered by shard_num, replica_num
    * @return shard_num -> multi-replica JDBC URL, one entry per shard
    */
  def shardJdbcUrls(topology: Seq[(Int, Int, String, Int)], db: String,
      params: Map[String, String] = Map.empty): Map[Int, String] = {
    // URLEncoder does form encoding (space -> '+'); URL query components
    // need percent encoding, or a driver that percent-decodes but does
    // not form-decode reads a literal '+'
    def enc(s: String): String =
      java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
        .replace("+", "%20")
    val query =
      if (params.isEmpty) ""
      else params.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("?", "&", "")
    topology.groupBy(_._1).map { case (shard, replicas) =>
      val hosts = replicas.sortBy(_._2)
        .map { case (_, _, host, port) => s"$host:$port" }
        .mkString(",")
      shard -> s"jdbc:clickhouse://$hosts/$db$query"
    }
  }

  /** J2 — series-state bootstrap queries (task/sinker.go:42-47). */
  def countSeriesQuery(db: String, seriesTable: String, metricTable: String,
      activeSeconds: Long): String =
    s"SELECT count() FROM (SELECT DISTINCT __series_id__ FROM ${bq(db)}.${bq(seriesTable)} " +
      s"WHERE __series_id__ GLOBAL IN (SELECT DISTINCT __series_id__ FROM " +
      s"${bq(db)}.${bq(metricTable)} WHERE timestamp >= addSeconds(now(), -$activeSeconds)))"

  /** D3 — dynamic-schema ALTERs (output/clickhouse.go:550-659): each new
    * key becomes a Nullable column (unless notNullable), DateTime widens to
    * DateTime64(3); ClickHouse >= 23.3 gets alter_sync=0.
    */
  def addColumnsStatements(db: String, table: String,
      newCols: Seq[(String, ChKind)], cluster: Option[String] = None,
      asyncAlter: Boolean = false): Seq[String] = {
    val onCluster = cluster.map(c => s" ON CLUSTER $c").getOrElse("")
    val settings  = if (asyncAlter) " SETTINGS alter_sync = 0" else ""
    newCols.sortBy(_._1).map { case (name, kind) =>
      val chTy = kind match {
        case ChKind.DateTime => "DateTime64(3)"
        case k               => k.chName
      }
      s"ALTER TABLE ${bq(db)}.${bq(table)}$onCluster " +
        s"ADD COLUMN IF NOT EXISTS ${bq(name)} Nullable($chTy)$settings"
    }
  }

  /** D4 — auto sharding-key DDL (output/clickhouse.go:724-799). */
  def addShardingKeyStatement(db: String, table: String): String =
    s"ALTER TABLE ${bq(db)}.${bq(table)} ADD COLUMN IF NOT EXISTS " +
      s"${bq("__shardingkey")} Int64"

  def sortingKeysQuery(db: String, table: String): String =
    s"SELECT name FROM system.columns WHERE database = '$db' AND table = '$table' " +
      s"AND is_in_sorting_key = 1 ORDER BY position"

  /** Parse `system.columns` rows into the projection schema: (name, type,
    * default_kind) plus the refered-nullable set -> ChTypeInfo per column
    * with the NotNullable override (clickhouse_util.go:35-60).
    */
  def dimsFromColumns(rows: Seq[(String, String, String)],
      referedNullable: Set[String],
      excluded: Set[String] = Set.empty): Seq[(String, ChTypeInfo)] =
    rows.collect {
      case (name, typ, defaultKind) if !excluded.contains(name) =>
        val ti = ChType.whichType(typ)
        // a DEFAULT that references a Nullable column forces NotNullable
        val adjusted =
          if (referedNullable.contains(name) && defaultKind == "DEFAULT")
            ti.copy(nullable = false)
          else ti
        name -> adjusted
    }
}
