package graft.functions

import org.apache.spark.types.variant.VariantUtil

/** O(1) variant type tag as an int, read straight from the variant binary
  * header — the tolerant getters branch on this instead of
  * `schema_of_variant`, which builds a DDL *string* per value per branch
  * and dominated the ingest profile (SURVEY §4.3 performance note).
  */
object VariantKindOps {
  // branch tags; stable ints compiled into the generated code
  final val NullK = 0; final val BoolK = 1; final val IntK = 2; final val FloatK = 3
  final val Dec0K = 4; final val DecFracK = 5; final val StrK = 6; final val ObjK = 7
  final val ArrK = 8; final val OtherK = 9

  /** The kind of the value at `pos` of `value`: the one switch every
    * typed read ([[ValueRead]]) and new-key detection make.
    */
  def kindAt(value: Array[Byte], pos: Int): Int = {
    import VariantUtil.Type
    VariantUtil.getType(value, pos) match {
      case Type.NULL    => NullK
      case Type.BOOLEAN => BoolK
      case Type.LONG    => IntK // all JSON ints up to int64
      case Type.DOUBLE | Type.FLOAT => FloatK
      // the decimal's scale as parsed (the byte after the header), not
      // stripped: scale 0 is a big integer literal (> int64), any other
      // scale float syntax in the source text, even "9223372036854775808.0",
      // which fastjson's Int64()/Uint64() reject
      case Type.DECIMAL => if (value(pos + 1) == 0) Dec0K else DecFracK
      case Type.STRING  => StrK
      case Type.OBJECT  => ObjK
      case Type.ARRAY   => ArrK
      case _            => OtherK
    }
  }
}
