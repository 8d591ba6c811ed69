package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

import graft.functions.{ChGetters, JsonDecode, Once, ValueRead, VariantAccess}
import graft.functions.ChGetters.ParseOpts
import graft.types.ChTypeInfo

/** Message -> typed row projection (SURVEY §2.2-§2.4): the declarative
  * equivalent of the reference's parse + metric2Row hot path
  * (task/task.go:166-321). Input is a DataFrame with a string `value`
  * column (plus Kafka metadata columns when present); output has one typed
  * column per dim with tolerant-getter semantics, corrupt messages dropped
  * (P5), not-nullable-null messages dropped (F14/FL2), `__kafka*` metadata
  * dims filled from source metadata (F13), and static `fields` overriding
  * message content (P6).
  */
object Projector {

  final case class Dim(
      name: String,
      ti: ChTypeInfo,
      /** JSON source key; defaults to the column name (GetSourceName
        * escaping is a CH-side concern the variant path doesn't need). */
      sourceName: Option[String] = None,
      notNullable: Boolean = false) {
    def source: String = sourceName.getOrElse(name)
  }

  /** F13 — the source column a `__kafka*` metadata dim is filled from
    * (task/task.go:285-298); None for any other dim name.
    */
  def metaSource(dimName: String): Option[String] = dimName match {
    case "__kafka_topic"     => Some("topic")
    case "__kafka_partition" => Some("partition")
    case "__kafka_offset"    => Some("offset")
    case "__kafka_key"       => Some("key")
    case "__kafka_timestamp" => Some("timestamp")
    case _                   => None
  }

  /** Project a JSON-message DataFrame. `fields` is the task-level static
    * JSON object merged over every message (P6, overwrite semantics).
    * `parseErrors`, when given, counts the messages dropped as corrupt
    * (P5).
    */
  def projectJson(df: DataFrame, dims: Seq[Dim], opts: ParseOpts,
      fields: Map[String, String] = Map.empty,
      parseErrors: Option[LongAccumulator] = None): DataFrame = {
    // Static fields win over message content (fastjson.go:54-58): such a
    // dim reads the root of its own parsed JSON instead of its key.
    def static(d: Dim): Option[Column] =
      fields.get(d.source).map(rawJson =>
        VariantAccess.read(ChGetters.parsed(lit(rawJson)), None, d.ti, opts))
    // Every dim but a meta dim or a static field is one typed read
    // (ValueRead) inside ONE decoder: a single Jackson pass over the message's bytes hands
    // each known key's value to its dims' reads and skips the rest, with
    // no variant per message (JsonDecode). A read keeps the dim's own
    // nullability even when notNullable is set: the reference extracts
    // with Nullable semantics and then DROPS the message on null
    // (task/task.go:303-314), it does not substitute a default.
    val decoded = dims.filter(d => metaSource(d.name).isEmpty && !fields.contains(d.source))
    val decode = toColumn(JsonDecode(toExpression(col("value")), decoded.map(_.source),
      decoded.map(d => ValueRead(None, d.ti, opts)), parseErrors))
    // Once(..) pins the decode to a single evaluation per row: without it
    // the corrupt filter below is predicate-pushed into the scan and each
    // field read inlines its own decode (see graft.functions.Once).
    // P5: a message that does not parse -> dropped.
    val rows = df.withColumn("__row__", Once(decode)).filter(col("__row__").isNotNull)
    val field = decoded.zipWithIndex.toMap
    val cols = dims.map { d =>
      if (metaSource(d.name).isDefined)
        metaColumn(rows, d).getOrElse(lit(null).cast(d.ti.sparkType).as(d.name))
      else static(d).getOrElse(col("__row__").getField(s"_${field(d)}")).as(d.name)
    }
    withNotNullFilter(rows.select(cols: _*), dims)
  }

  /** Project a CSV-message DataFrame given the csvFormat column order
    * (P4 — RFC-4180, custom delimiter, strict arity; parser/csv.go).
    * Strict arity: the Go csv reader runs with
    * `FieldsPerRecord = len(csvFormat)` (parser/csv.go:46-63), so a short
    * or long record is a parse error and the message is DROPPED — here the
    * corrupt-record column marks wrong-arity rows and the filter drops
    * them.
    */
  def projectCsv(df: DataFrame, csvFormat: Seq[String], dims: Seq[Dim],
      opts: ParseOpts, delimiter: String = ","): DataFrame = {
    val schema = StructType(
      csvFormat.map(n => StructField(n, StringType)) :+
        StructField("__corrupt__", StringType))
    // Once pins the parse: without it the corrupt/arity filter is
    // predicate-pushed below this projection and every row parses the
    // CSV twice (see the identical barrier on the JSON path)
    val parsed = df
      .withColumn("__csv__",
        graft.functions.Once(from_csv(col("value"), schema, Map(
          "sep" -> delimiter, "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "__corrupt__",
          // RFC-4180 escaping: quotes are escaped by doubling, not backslash
          "quote" -> "\"", "escape" -> "\""))))
      .filter(col("__csv__").isNotNull &&
        col("__csv__").getField("__corrupt__").isNull)
    val cols = dims.map { d =>
      metaColumn(parsed, d).getOrElse {
        CsvGetters.getValue(col("__csv__").getField(d.source), d.ti, opts).as(d.name)
      }
    }
    withNotNullFilter(parsed.select(cols: _*), dims)
  }

  private def metaColumn(df: DataFrame, d: Dim): Option[Column] =
    metaSource(d.name).flatMap { src =>
      if (df.columns.contains(src)) Some(col(src).cast(d.ti.sparkType).as(d.name))
      else None
    }

  /** F14/FL2 — a NULL in a NotNullable dim drops the whole message. */
  private def withNotNullFilter(df: DataFrame, dims: Seq[Dim]): DataFrame = {
    val guarded = dims.filter(_.notNullable).map(d => col(d.name).isNotNull)
    if (guarded.isEmpty) df else df.filter(guarded.reduce(_ && _))
  }
}
