package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
import org.apache.spark.sql.functions._

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
  *   - Map keys               -> converted to the key type; a key that does
  *                               not convert is dropped ([[MapRead]])
  *
  * Every getter, scalar or container, is one codegen'd typed read in place
  * over the parsed message ([[VariantAccess.read]], [[ValueRead]]): map
  * values and array elements are the scalar reads at their offsets, with
  * no field copy and no rebuilt variant. No Scala UDF and no higher-order
  * function is in the hot path, so whole-stage codegen and column pruning
  * apply. Known deltas vs the reference, by design: variant objects
  * serialize with sorted keys (fastjson preserves insertion order) and
  * non-numeric float literals (`inf`) are not valid JSON here.
  */
object ChGetters {

  final case class ParseOpts(
      timeZone: String = "UTC",
      timeUnit: Double = 1.0)

  /** The parsed message: one parse per row. */
  def parsed(raw: Column): Column = try_parse_json(raw)

  def autoTimestamp(s: Column, timeZone: String): Column =
    toColumn(AutoTimestamp(toExpression(s), timeZone))
}
