package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{ChGetters, VariantAccess}
import graft.functions.ChGetters.ParseOpts
import graft.types.{ChKind, ChTypeInfo}

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

  /** F13 — `__kafka*` metadata dims (task/task.go:285-298). */
  private val kafkaMeta: Map[String, String] = Map(
    "__kafka_topic"     -> "topic",
    "__kafka_partition" -> "partition",
    "__kafka_offset"    -> "offset",
    "__kafka_key"       -> "key",
    "__kafka_timestamp" -> "timestamp")

  /** Project a JSON-message DataFrame. `fields` is the task-level static
    * JSON object merged over every message (P6, overwrite semantics).
    */
  def projectJson(df: DataFrame, dims: Seq[Dim], opts: ParseOpts,
      fields: Map[String, String] = Map.empty): DataFrame = {
    // Once(..) pins the parse to a single evaluation per row — without it
    // the corrupt filter below is predicate-pushed into the scan and the
    // message parses twice (see graft.functions.Once). A pre-parsed
    // `__msg__` column (the dynamic-schema single-parse path) is reused
    // as-is.
    val msg = graft.functions.Once(ChGetters.parsed(col("value")))
    val parsed0 =
      if (df.columns.contains("__msg__")) df
      else df.withColumn("__msg__", msg)
    // P5: unparseable JSON -> dropped. No caller counts these drops yet;
    // ROADMAP direction 2 puts a parse-error counter on /metrics.
    val parsed = parsed0.filter(col("__msg__").isNotNull)

    // Static fields win over message content (fastjson.go:54-58): such a
    // dim reads the root of its own parsed JSON instead of its key.
    def static(d: Dim): Option[Column] =
      fields.get(d.source).map(rawJson => ChGetters.parsed(lit(rawJson)))

    // Stage 1: maps, arrays and Object('json') stay on the built-in path,
    // over a variant field bound once here.
    val fieldCols = dims.filterNot(d => kafkaMeta.contains(d.name) || isScalar(d)).map { d =>
      static(d).getOrElse(VariantAccess.field(col("__msg__"), d.source)).as(s"__f_${d.name}")
    }
    val stage1 = parsed.select(parsed.columns.map(col).toSeq ++ fieldCols: _*)

    // Stage 2: every scalar dim is ONE typed read over the message
    // (graft.functions.ScalarRead): it finds its key in place, switches
    // once on the value's type tag and returns the getter's result
    // unboxed, with no field binding and no casts. That keeps the stage's
    // generated code small: above HotSpot's 8,000-byte method limit the
    // JIT never compiles processNext and the batch runs interpreted.
    val cols = dims.map { d =>
      if (kafkaMeta.contains(d.name))
        metaColumn(stage1, d).getOrElse(lit(null).cast(d.ti.sparkType).as(d.name))
      else if (!isScalar(d)) valueColumn(col(s"__f_${d.name}"), d, opts).as(d.name)
      else {
        val (v, key) = static(d) match {
          case Some(v) => (v, None)
          case None    => (col("__msg__"), Some(d.source))
        }
        VariantAccess.read(v, key, d.ti.kind, d.ti.nullable, opts, d.ti.dateTime64Precision)
          .as(d.name)
      }
    }
    withNotNullFilter(stage1.select(cols: _*), dims)
  }

  private def isScalar(d: Dim): Boolean =
    !d.ti.array && d.ti.kind != ChKind.MapK && d.ti.kind != ChKind.Obj

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
    kafkaMeta.get(d.name).flatMap { src =>
      if (df.columns.contains(src)) Some(col(src).cast(d.ti.sparkType).as(d.name))
      else None
    }

  // NOTE: the getter keeps the dim's own nullability even when
  // notNullable is set — the reference extracts with Nullable semantics
  // and then DROPS the message on null (task/task.go:303-314), it does
  // not substitute a default.
  private def valueColumn(f: Column, d: Dim, opts: ParseOpts): Column =
    if (d.ti.kind == ChKind.MapK) ChGetters.getMap(f, d.ti, opts)
    else if (d.ti.array) ChGetters.getArray(f, d.ti, opts)
    else ChGetters.getObject(f)

  /** F14/FL2 — a NULL in a NotNullable dim drops the whole message. */
  private def withNotNullFilter(df: DataFrame, dims: Seq[Dim]): DataFrame = {
    val guarded = dims.filter(_.notNullable).map(d => col(d.name).isNotNull)
    if (guarded.isEmpty) df else df.filter(guarded.reduce(_ && _))
  }
}
