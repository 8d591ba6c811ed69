package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GoHash, PortableHash}

/** XXH64(seed=0) parity — the reference's shard hash is cespare/xxhash
  * Sum64 == standard XXH64 seed 0 (`/root/reference/task/sharding.go:108`).
  */
class GoHashSpec extends AnyFunSuite with LocalSpark {
  import spark.implicits._

  test("known XXH64 vectors, seed 0") {
    val r = Seq(("", "a")).toDF("e", "a")
      .select(GoHash.goXxHash64($"e").as("he"), GoHash.goXxHash64($"a").as("ha"))
      .head()
    // canonical XXH64 test vector: empty input, seed 0
    assert(java.lang.Long.toHexString(r.getLong(0)) === "ef46db3751d8e999")
    // one-byte input 'a': standard xxh64 value
    assert(java.lang.Long.toHexString(r.getLong(1)) === "d24ec4f1a98c6e5b")
  }

  test("event_type shard mapping is stable (pins the q_shard_hash oracle)") {
    val got = Seq("click", "error", "purchase", "signup", "view").toDF("et")
      .select($"et", GoHash.unsignedMod(GoHash.goXxHash64($"et"), 8).as("s"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === Map("click" -> 4, "error" -> 3, "purchase" -> 7,
      "signup" -> 6, "view" -> 7))
  }

  test("portable md5 halves match DuckDB md5_number_lower/upper") {
    // golden values from DuckDB 1.0.0 (signed reinterpretation of the
    // UBIGINT results) — the dedup oracles recompute signatures with them
    val expect = Map(
      ""            -> (9098107892288553193L, 338333539836370388L),
      "abc"         -> (8250560606382298838L, -5742139842178842224L),
      "hello world" -> (-4337711292721476717L, -3391739518800644514L),
      "the"         -> (6287873238205204795L, -2637251346890439537L),
      "的"      -> (-6999010303413422117L, -565475208271833343L),
      "a b c"       -> (2456462632627010471L, -8680985394466590714L))
    val rows = expect.keys.toSeq.toDF("s")
      .select($"s", PortableHash.md5Lo($"s").as("lo"), PortableHash.md5Hi($"s").as("hi"))
      .collect()
    rows.foreach { r =>
      val (lo, hi) = expect(r.getString(0))
      assert(r.getLong(1) === lo, s"lo mismatch for '${r.getString(0)}'")
      assert(r.getLong(2) === hi, s"hi mismatch for '${r.getString(0)}'")
    }
  }

  test("unsigned reinterpretation") {
    val r = Seq((-1L, 5L)).toDF("neg", "pos")
      .select(
        GoHash.asUnsigned($"neg").as("u"),
        GoHash.unsignedMod($"neg", 7).as("m"),
        GoHash.unsignedMod($"pos", 7).as("p"))
      .head()
    assert(r.getDecimal(0).toBigInteger.toString === "18446744073709551615")
    // 2^64-1 mod 7 = 1
    assert(r.getInt(1) === 1)
    assert(r.getInt(2) === 5)
  }
}
