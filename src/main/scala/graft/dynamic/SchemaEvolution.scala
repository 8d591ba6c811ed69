package graft.dynamic

import java.time.ZoneId
import java.util.regex.Pattern

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{ChGetters, GoLayouts, VariantAccess, VariantKind, VariantKindOps}
import graft.sink.ChSql
import graft.types.ChKind

/** Dynamic schema detection + evolution (SURVEY §2.9 D1-D3; reference
  * `parser/fastjson.go:512-658`, `task/task.go:198-219`,
  * `output/clickhouse.go:550-659`).
  *
  * Detection is a distributed aggregation over the micro-batch: explode
  * each message's unseen top-level fields, keep keys passing the white/
  * black lists, and merge each key's variant type tags. Driver-side, the
  * merged tag maps to a ClickHouse column type with the reference's rules:
  *
  *   - bool -> Bool; integer -> Int64; float/decimal -> Float64
  *   - string -> DateTime when the first sampled value matches a layout,
  *     else String (fjDetectType:623-658)
  *   - null/object/array/mixed -> skipped (warn-once in the reference;
  *     go.test.sh golden shows newkey05-10 intentionally NOT added)
  *
  * Evolution then emits `ALTER TABLE … ADD COLUMN IF NOT EXISTS` DDL and
  * the caller restarts the streaming query with the refreshed schema —
  * the same stop-flush-alter-restart cycle the reference runs.
  */
object SchemaEvolution {

  final case class NewKeyPolicy(
      whiteList: Option[String] = None,
      blackList: Option[String] = None,
      maxDims: Int = Int.MaxValue,
      timeZone: String = "UTC")

  /** D1+D2 — returns (key -> inferred kind) for new keys in the batch.
    *
    * `parsedCol`: when the caller already parsed `value` (the pipeline's
    * single-parse invariant — reference piggybacks GetNewKeys on the one
    * parse, parser/fastjson.go:512-536), pass that column's name and the
    * detection aggregates over it instead of re-parsing.
    */
  def detectNewKeys(batch: DataFrame, knownKeys: Set[String],
      policy: NewKeyPolicy = NewKeyPolicy(),
      parsedCol: Option[String] = None): Seq[(String, ChKind)] = {
    val white = policy.whiteList.map(Pattern.compile(_))
    val black = policy.blackList.map(Pattern.compile(_))

    val msg = parsedCol.map(col).getOrElse(ChGetters.parsed(col("value")))
    // only the members outside knownKeys leave the message, each read in
    // place (no per-value rebuild of the known ones)
    val fields = batch
      .select(explode(VariantAccess.newFields(msg, knownKeys)).as(Seq("k", "v")))
      .select(col("k"), schema_of_variant(col("v")).as("tag"),
        when(VariantKind.of(col("v")) === VariantKindOps.StrK,
          VariantAccess.string(col("v"))).as("sample"))
      .groupBy(col("k"))
      .agg(collect_set(col("tag")).as("tags"),
        first(col("sample"), ignoreNulls = true).as("sample"))
      .collect()

    val zone = ZoneId.of(policy.timeZone)
    fields.toSeq
      .filter { r =>
        val k = r.getString(0)
        white.forall(_.matcher(k).find()) && !black.exists(_.matcher(k).find())
      }
      .sortBy(_.getString(0))
      .flatMap { r =>
        // the reference types a key from its first occurrence; mixed-type
        // keys are inherently racy there — we require a consistent type
        // FAMILY (variant numeric tags carry per-value precision, e.g.
        // DECIMAL(3,1) vs DECIMAL(10,2), and must unify)
        val fams = r.getSeq[String](1).filterNot(_ == "VOID")
          .map(tagFamily).distinct
        if (fams.size != 1) None
        else inferKind(fams.head, Option(r.getString(2)), zone)
          .map(r.getString(0) -> _)
      }
  }

  /** Variant tag -> unification family (a representative tag, so
    * [[inferKind]] stays the single tag->kind decision table).
    */
  private def tagFamily(tag: String): String = tag match {
    case "TINYINT" | "SMALLINT" | "INT" => "BIGINT"
    case "FLOAT" | "DOUBLE" => "DOUBLE"
    case t if t.startsWith("DECIMAL") => "DOUBLE"
    case other => other
  }

  /** D2 — variant tag -> dynamic column kind (fjDetectType parity). */
  def inferKind(tag: String, sample: Option[String], zone: ZoneId): Option[ChKind] =
    tag match {
      case "BOOLEAN" => Some(ChKind.Bool)
      case "TINYINT" | "SMALLINT" | "INT" | "BIGINT" => Some(ChKind.Int64)
      case "FLOAT" | "DOUBLE" => Some(ChKind.Float64)
      case t if t.startsWith("DECIMAL") => Some(ChKind.Float64)
      case "STRING" =>
        sample match {
          case Some(s) if GoLayouts.detect(s, zone)._2 >= 0 => Some(ChKind.DateTime)
          case _ => Some(ChKind.Str)
        }
      // objects, arrays, mixed -> unsupported for dynamic columns
      case _ => None
    }

  /** D3 — DDL for the accepted new keys (MaxDims guard included;
    * task/task.go:141-159).
    */
  def changeSchemaStatements(db: String, table: String, currentDims: Int,
      newKeys: Seq[(String, ChKind)], policy: NewKeyPolicy,
      distributedTables: Seq[(String, String)] = Nil,
      asyncAlter: Boolean = false): Seq[String] = {
    val room     = math.max(0, policy.maxDims - currentDims)
    val accepted = newKeys.sortBy(_._1).take(room)
    val local    = ChSql.addColumnsStatements(db, table, accepted, asyncAlter = asyncAlter)
    val dist = distributedTables.flatMap { case (ddb, dtbl) =>
      ChSql.addColumnsStatements(ddb, dtbl, accepted, asyncAlter = asyncAlter)
    }
    local ++ dist
  }
}
