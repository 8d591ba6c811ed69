package graft.dynamic

import java.time.ZoneId
import java.util.regex.Pattern

import scala.annotation.unused

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Decoded, GoLayouts, JsonDecoder, MemberWalk}
import graft.functions.VariantKindOps.{BoolK, Dec0K, DecFracK, FloatK, IntK, NullK, StrK}
import graft.parse.Projector.Dim
import graft.sink.ChSql
import graft.types.{ChKind, ChTypeInfo}

/** Dynamic schema detection + evolution (SURVEY §2.9 D1-D3; reference
  * `parser/fastjson.go:512-658`, `task/task.go:198-219`,
  * `output/clickhouse.go:550-659`).
  *
  * Detection is one scan-local pass over the micro-batch, with no
  * shuffle: each task walks its messages' top-level members with the
  * ingest decoder (one Jackson pass, no variant) and folds every unseen key into the set of its values' kinds plus its
  * first string value ([[KeyFold]]); the driver merges the tasks' folds,
  * keeps keys passing the white/black lists, and maps each fold to a
  * ClickHouse column type with the reference's rules:
  *
  *   - bool -> Bool; integer -> Int64; float/decimal -> Float64
  *   - string -> DateTime when the first sampled value matches a layout,
  *     else String (fjDetectType:623-658)
  *   - null/object/array/mixed -> skipped (warn-once in the reference;
  *     go.test.sh golden shows newkey05-10 intentionally NOT added)
  *
  * Evolution then emits `ALTER TABLE … ADD COLUMN IF NOT EXISTS` DDL and
  * widens the task's dims, inside the batch that found the keys: that
  * batch and every later one are written under the widened schema, and
  * the query keeps running.
  */
object SchemaEvolution {

  final case class NewKeyPolicy(
      whiteList: Option[String] = None,
      blackList: Option[String] = None,
      maxDims: Int = Int.MaxValue,
      timeZone: String = "UTC")

  /** What a batch shows of one new key: bit `k` of `kinds` is set when
    * some value has [[VariantKindOps]] kind `k`; `sample` is the first
    * string value seen, null when there is none.
    */
  final case class KeyFold(kinds: Int, sample: String)

  /** D1+D2 — returns (key -> inferred kind) for new keys in the batch's
    * `value` messages. `parsedCol` is ignored: detection decodes `value`
    * itself ([[foldNewKeys]]); it stays only for callers that name it
    * (the sinkbench harness).
    */
  def detectNewKeys(batch: DataFrame, knownKeys: Set[String],
      policy: NewKeyPolicy = NewKeyPolicy(),
      @unused parsedCol: Option[String] = None): Seq[(String, ChKind)] = {
    val white = policy.whiteList.map(Pattern.compile(_))
    val black = policy.blackList.map(Pattern.compile(_))
    val zone = ZoneId.of(policy.timeZone)
    foldNewKeys(batch, knownKeys).toSeq
      .filter { case (k, _) =>
        white.forall(_.matcher(k).find()) && !black.exists(_.matcher(k).find())
      }
      .sortBy(_._1)
      .flatMap { case (k, f) => inferKind(f, zone).map(k -> _) }
  }

  /** D1 — the [[KeyFold]] of every top-level key of the batch's `value`
    * messages that is not in `knownKeys`, in one job of one stage. Each
    * task walks its messages with the ingest decoder ([[MemberWalk]]: one
    * Jackson pass, no variant) and folds the members of every message
    * that parses; the driver merges the folds in partition order.
    */
  def foldNewKeys(batch: DataFrame, knownKeys: Set[String]): Map[String, KeyFold] =
    batch.select(col("value")).queryExecution.toRdd.mapPartitions { rows =>
      val walk = new NewKeys(knownKeys)
      rows.foreach(r => if (!r.isNullAt(0)) walk.fold(r.getUTF8String(0)))
      Iterator.single(walk.folds)
    }.collect().foldLeft(Map.empty[String, KeyFold]) { (merged, part) =>
      part.foldLeft(merged) { case (m, (k, f)) =>
        m.updated(k, m.get(k).fold(f)(g =>
          KeyFold(g.kinds | f.kinds, if (g.sample != null) g.sample else f.sample)))
      }
    }

  /** A task's running [[KeyFold]]s: a message's unknown members count
    * only once the whole message has parsed.
    */
  private final class NewKeys(known: Set[String]) extends MemberWalk {
    private val accs = new java.util.LinkedHashMap[String, Acc]()
    private val pending = new java.util.ArrayList[(String, Int, String)]()
    private val d = new Decoded

    protected def member(name: String, p: JsonParser, t: JsonToken): Unit = {
      once(name, p)
      if (known(name)) JsonDecoder.skip(p)
      else {
        JsonDecoder.decode(p, t, d, 0)
        pending.add((name, d.kind, if (d.kind == StrK) d.string.toString else null))
      }
    }

    protected def start(): Unit = pending.clear()

    def fold(s: UTF8String): Unit =
      if (walk(s)) pending.forEach { case (name, kind, str) =>
        var acc = accs.get(name)
        if (acc == null) { acc = new Acc; accs.put(name, acc) }
        acc.kinds |= 1 << kind
        if (acc.sample == null) acc.sample = str
      }

    def folds: Array[(String, KeyFold)] = {
      val out = Array.newBuilder[(String, KeyFold)]
      accs.forEach((k, a) => out += (k -> KeyFold(a.kinds, a.sample)))
      out.result()
    }
  }

  /** A task's running [[KeyFold]]. */
  private final class Acc {
    var kinds: Int = 0
    var sample: String = null
  }

  private val NumberKinds = (1 << FloatK) | (1 << Dec0K) | (1 << DecFracK)

  /** D2 — a key's dynamic column kind from its fold (fjDetectType
    * parity). The reference types a key from its first occurrence, so
    * mixed-type keys are racy there; here every non-null value must be of
    * one family: bools, integers, numbers (floats and decimals unify) or
    * strings. Objects, arrays, mixed families and all-null keys -> None.
    */
  def inferKind(f: KeyFold, zone: ZoneId): Option[ChKind] =
    f.kinds & ~(1 << NullK) match {
      case k if k == 1 << BoolK => Some(ChKind.Bool)
      case k if k == 1 << IntK  => Some(ChKind.Int64)
      case k if k != 0 && (k & ~NumberKinds) == 0 => Some(ChKind.Float64)
      case k if k == 1 << StrK =>
        Some(if (f.sample != null && GoLayouts.detect(f.sample, zone)._2 >= 0)
          ChKind.DateTime else ChKind.Str)
      case _ => None
    }

  /** `dims` widened by the new keys, in key order, each a Nullable
    * column of its kind (a DateTime as DateTime64(3)).
    */
  def widen(dims: Seq[Dim], newKeys: Seq[(String, ChKind)]): Seq[Dim] =
    dims ++ newKeys.sortBy(_._1).map { case (k, kind) =>
      Dim(k, ChTypeInfo(kind, nullable = true,
        dateTime64Precision = if (kind == ChKind.DateTime) 3 else 0))
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
