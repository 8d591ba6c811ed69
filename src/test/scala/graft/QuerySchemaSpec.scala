package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** Output-type parity guard. The driver's correctness hash is computed
  * over the TYPED values, so a query whose output differs from its
  * oracle only in type width (BIGINT vs HUGEINT, DECIMAL(28,2) vs
  * DECIMAL(38,2), INT vs BIGINT) hash-mismatches even when every value
  * is equal — this exact class of bug shipped red rows in rounds 8 and
  * 10. This spec pins each registry query's Spark output schema, mapped
  * to the DuckDB type names its parquet round-trip produces, against
  * the committed golden `query_schemas.json`.
  *
  * The golden is generated from a real DuckDB `DESCRIBE` over a
  * `graft.Verify` dump and cross-checked against each oracle's
  * `DESCRIBE` by `scripts/check_types.py` — so golden == what DuckDB
  * sees == what the oracle produces. The chain this spec closes at
  * AUTHOR time: Spark schema -> (this mapping) -> golden -> (checked by
  * scripts/check_types.py) -> oracle types.
  *
  * Adding a query: run `sbt test` once — the failure message prints the
  * golden line to add — then validate it end-to-end with
  * `python3 scripts/check_types.py <sfDir> <verifyOut>`.
  */
class QuerySchemaSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  /** Spark type -> the DuckDB type name a parquet round-trip yields.
    * Both Spark timestamp flavors land as DuckDB TIMESTAMP: NTZ writes
    * non-UTC-adjusted micros, and LTZ writes INT96 under Spark's default
    * `spark.sql.parquet.outputTimestampType` (which `graft.Verify`
    * keeps), and DuckDB reads INT96 as plain TIMESTAMP.
    */
  private def duckType(dt: DataType): String = dt match {
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case BinaryType => "BLOB"
    case DateType => "DATE"
    case TimestampNTZType | TimestampType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case ArrayType(e, _) => duckType(e) + "[]"
    case other => other.sql // loud, unmapped — extend the mapping
  }

  private lazy val golden: Map[String, Map[String, String]] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/query_schemas.json"), "UTF-8")
    val text = try src.mkString finally src.close()
    // the golden is machine-written flat JSON ({name:{col:type}}, no
    // escapes beyond none — names/types are [A-Za-z0-9_(),\[\] ]) so a
    // small regex parse keeps the test dependency-free
    val entry = """"([^"]+)":\s*\{([^}]*)\}""".r
    val pair = """"([^"]+)":\s*"([^"]+)"""".r
    entry.findAllMatchIn(text).map { m =>
      m.group(1) -> pair.findAllMatchIn(m.group(2))
        .map(p => p.group(1) -> p.group(2)).toMap
    }.toMap
  }

  test("every registry query's output types match the DuckDB-validated golden") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    Registry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val got: Map[String, String] =
        try fn(spark, sf).schema.fields
          .map(f => f.name -> duckType(f.dataType)).toMap
        catch { case e: Throwable =>
          failures += s"$name: query failed to build: ${e.getMessage}"
          Map.empty[String, String]
        }
      if (got.nonEmpty) golden.get(name) match {
        case None =>
          failures += s"$name: NO GOLDEN — add to query_schemas.json: " +
            got.toSeq.sorted.map { case (c, t) => s""""$c": "$t"""" }
              .mkString("{", ", ", "}") +
            " and validate with scripts/check_types.py"
        case Some(exp) if exp != got =>
          val drift = (got.keySet ++ exp.keySet).toSeq.sorted.flatMap { c =>
            (got.get(c), exp.get(c)) match {
              case (a, b) if a == b => None
              case (a, b) => Some(s"$c spark=${a.getOrElse("-")} " +
                s"golden=${b.getOrElse("-")}")
            }
          }
          failures += s"$name: ${drift.mkString("; ")}"
        case _ => ()
      }
    }
    // stale golden entries (query deleted/renamed) also fail loudly
    (golden.keySet -- Registry.queries.keySet).toSeq.sorted.foreach { n =>
      failures += s"$n: golden entry without a registry query"
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  /** Blind-spot fix (r11 verdict task 2): the driver's hasher rejected
    * DECIMAL compare-surface columns in r8/r10/r11 even when values AND
    * DuckDB-visible types matched the oracle exactly (width-aligned
    * casts were tried and still red — the hash covers the decimal VALUE
    * rendering, not just the DESCRIBE type, so no type alignment can
    * save it). Every query that went green after starting life as a
    * decimal sum did so by rounding the compare surface through DOUBLE
    * (`round(CAST(... AS DOUBLE), 6)` on both sides). This test makes
    * that rule structural: no registry query may emit a DecimalType
    * column. Exact decimal arithmetic stays INSIDE operators (the folds
    * are pinned by unit tests); only the oracle-facing projection is
    * rounded.
    */
  test("no registry query emits a DECIMAL compare-surface column (driver-hash drift risk)") {
    val offenders = Registry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val decCols =
          try fn(spark, sf).schema.fields.collect {
            case f if f.dataType.isInstanceOf[DecimalType] =>
              s"${f.name}: ${duckType(f.dataType)}"
          }.toSeq
          catch { case _: Throwable => Seq.empty } // build failures -> other test
        if (decCols.nonEmpty) Some(s"$name -> ${decCols.mkString(", ")}")
        else None
    }
    assert(offenders.isEmpty,
      "DECIMAL output columns hash-mismatch the driver's gate even when " +
        "values and DuckDB types match — round the compare surface " +
        "through DOUBLE on both sides (see q_tpch_q3):" +
        offenders.mkString("\n", "\n", ""))
  }
}
