package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.{ChKind, ChTypeInfo}

/** Tolerant typed extraction from a Variant-parsed JSON message.
  *
  * This is the Spark-native re-expression of the reference's `Metric`
  * getter family (`/root/reference/parser/fastjson.go`, dispatcher
  * `/root/reference/model/value.go:108-159`): parse each message ONCE with
  * `parse_json`, then extract every projected column with type-tolerant
  * semantics —
  *
  *   - wrong JSON type        -> default value (or NULL when Nullable)
  *   - out-of-range integers  -> clamped to the target range (not wrapped,
  *                               not thrown — fastjson.go:129-188)
  *   - bool                   -> 0/1 for integer targets
  *   - any scalar             -> raw JSON text for String targets
  *   - epoch numbers          -> timestamp scaled by the task `timeUnit`,
  *                               out-of-range [0, 2^32) -> Epoch
  *   - date strings           -> 27-layout auto-detection ([[AutoTimestamp]])
  *   - invalid IPs            -> zero-IP defaults
  *   - non-object for Map     -> empty map; non-array for Array -> empty array
  *
  * A scalar is one codegen'd typed read ([[ScalarRead]]) that returns the
  * getter's result unboxed; maps, arrays and Object('json') are built-in
  * Catalyst expressions over those reads. No Scala UDF is in the hot
  * path, so whole-stage codegen and column pruning apply. Known deltas
  * vs the reference, by design: variant objects
  * serialize with sorted keys (fastjson preserves insertion order) and
  * non-numeric float literals (`inf`) are not valid JSON here.
  */
object ChGetters {

  final case class ParseOpts(
      timeZone: String = "UTC",
      timeUnit: Double = 1.0)

  // ---- variant plumbing ----------------------------------------------

  /** The parsed message: one parse per row. */
  def parsed(raw: Column): Column = try_parse_json(raw)

  def autoTimestamp(s: Column, timeZone: String): Column =
    toColumn(AutoTimestamp(toExpression(s), timeZone))

  // ---- scalar getters (F1-F9) ----------------------------------------

  /** The scalar getter of `kind` at the root of variant `f`: one typed
    * read ([[ScalarRead]]) for every scalar kind, the object getter for
    * Object('json'). Map values, array elements, static `fields` and
    * CSV's JSON cells read through here; a message's top-level dims read
    * the same typed read at their key ([[VariantAccess.read]]).
    */
  def getScalar(f: Column, kind: ChKind, nullable: Boolean, opts: ParseOpts,
      dt64Precision: Int): Column = kind match {
    case ChKind.Obj  => getObject(f)
    case ChKind.MapK =>
      throw new IllegalArgumentException("nested Map handled by getMap")
    case _ => VariantAccess.read(f, None, kind, nullable, opts, dt64Precision)
  }

  // ---- object / map / array (F10-F12) --------------------------------

  private def asVariantMap(f: Column): Column =
    try_variant_get(f, "$", "map<string,variant>")

  import VariantKindOps._
  private def kindOf(f: Column): Column = VariantKind.of(f)
  private def isStrTy(k: Column): Column = k === StrK
  private def isNumTy(k: Column): Column = k.isin(IntK, FloatK, Dec0K, DecFracK)

  /** F10: JSON object keeping only string & number members, stringified
    * (Object('json') target; fastjson.go:681-710). Non-object -> empty map.
    */
  def getObject(f: Column): Column = {
    val m = asVariantMap(f)
    val kept = map_filter(m, (_, v) => isStrTy(kindOf(v)) || isNumTy(kindOf(v)))
    val strd = transform_values(kept, (_, v) =>
      when(isStrTy(kindOf(v)), VariantAccess.string(v)).otherwise(to_json(v)))
    coalesce(strd, map().cast(MapType(StringType, StringType)))
  }

  /** F11: Map(K, V) — object keys cast to the map-key type, values cast
    * recursively (fastjson.go:327-455,660-679). Non-object -> empty map.
    */
  def getMap(f: Column, ti: ChTypeInfo, opts: ParseOpts): Column = {
    val keyTi = ti.mapKey.getOrElse(ChTypeInfo(ChKind.Str))
    val valTi = ti.mapValue.getOrElse(ChTypeInfo(ChKind.Str))
    val m = asVariantMap(f)
    val valued = transform_values(m, (_, v) =>
      if (valTi.kind == ChKind.MapK) getMap(v, valTi, opts)
      else if (valTi.array) getArray(v, valTi, opts)
      else getScalar(v, valTi.kind, nullable = valTi.nullable, opts,
        valTi.dateTime64Precision))
    // map keys arrive as strings; cast per MapKey type (string keys that
    // don't parse become NULL and are dropped, CH would reject them anyway)
    val keyed = keyTi.kind match {
      case ChKind.Str => valued
      case k =>
        val cast = transform_keys(valued, (kcol, _) => k match {
          case ChKind.DateTime =>
            coalesce(autoTimestamp(kcol, opts.timeZone),
              timestamp_seconds(kcol.cast("double") * lit(opts.timeUnit)))
          case _ => kcol.cast(ChTypeInfo(k).elementSparkType)
        })
        map_filter(cast, (kcol, _) => kcol.isNotNull)
    }
    val target = ti.elementSparkType.asInstanceOf[MapType]
    coalesce(keyed, map().cast(target))
  }

  /** F12: Array(T) — elementwise scalar getter with non-null defaults;
    * non-array -> empty array (fastjson.go:204-325).
    */
  def getArray(f: Column, ti: ChTypeInfo, opts: ParseOpts): Column = {
    val arr = try_variant_get(f, "$", "array<variant>")
    val conv = transform(arr, e =>
      getScalar(e, ti.kind, nullable = false, opts, ti.dateTime64Precision))
    coalesce(conv, array().cast(ArrayType(ti.elementSparkType, containsNull = false)))
  }
}
