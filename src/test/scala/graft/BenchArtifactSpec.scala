package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench._
import graft.telemetry.{Measure, StageTelemetry}

/** The bench artifact without a Spark job: [[Bench.line]] over fixed
  * rows keeps the committed artifact's field layout, and the 100x
  * runs-per-row rule writes the `shed` notes it always wrote.
  */
class BenchArtifactSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet
  private def parse(line: String): JsonNode = mapper.readTree(line)

  private val s = Measure.Sample(sec = 1.5, rows = 100L, load = 0.5,
    ext = 0.25, io = 0.001)
  private val tel = StageTelemetry.Totals(writeBytes = 1L, readBytes = 2L,
    maxTaskRead = 3L, readTasks = 4L, skew = 1.5, spillBytes = 0L,
    stageSkew = 1.1)
  private def row(name: String) = Timed(name, Seq(s, s.copy(sec = 1.2)))
  private val full = Record("/data/sf0.1", budgetSec = 750.0,
    ingest = Some(row("ingest_json")),
    queries = Vector(row("q1_agg")),
    host1x = Some(s),
    queries10x = Some(Vector(row("q1_agg"))),
    host10x = Some(s),
    tier100 = Some(Tier100(reps = 2, docs = 10L, setupSec = Some(3.0),
      rows = Vector(Timed("dedup_minhash_lsh", Seq(s, s.copy(sec = 1.0)),
        Seq(tel, tel.copy(writeBytes = 7L)))))),
    iso = Some(Iso(row("ingest_isolated"), waitSec = 0.0, gateMet = true)))

  test("one row per tier gives the field layout of BENCH_r20") {
    val f = new java.io.File("BENCH_r20.json")
    assert(f.exists(), s"run from the repo root (${f.getAbsolutePath})")
    val r20 = mapper.readTree(f).get("parsed")
    val out = parse(line(full, wallSec = 12.0, partial = false))
    assert(keys(out) === keys(r20) -- Set("shed", "partial"))
    for (tier <- Seq("queries", "queries_10x", "queries_100x")) {
      val want = r20.get(tier).elements().asScala.map(keys).toSet
      assert(want.size === 1, tier)
      out.get(tier).elements().asScala.foreach(r =>
        assert(keys(r) === want.head, tier))
    }
    assert(keys(out.get("ingest_isolated")) ===
      keys(r20.get("ingest_isolated")))
    // the recorded number is the fastest run, and its telemetry
    val r100 = out.get("queries_100x").get("dedup_minhash_lsh")
    assert(r100.get("sec").asDouble === 1.0)
    assert(r100.get("shuffle_write_bytes").asLong === 7L)
    assert(out.get("queries").get("q1_agg").get("sec").asDouble === 1.2)
    assert(out.get("value").asDouble === 2.4)
  }

  test("a partial line carries partial true; a final one has no partial") {
    assert(parse(line(full, 1.0, partial = true)).get("partial").asBoolean)
    assert(!parse(line(full, 1.0, partial = false)).has("partial"))
  }

  test("a failed row records sec 0, rows -1, no runs, and its error") {
    val rec = Record("/data/sf0.1", 750.0,
      queries = Vector(Timed("q_bad", Nil)),
      shed = ListMap("1x" -> "single-run-no-warm:1"),
      errors = ListMap("q_bad" -> "boom \"quoted\"\n"))
    val out = parse(line(rec, 1.0, partial = false))
    val bad = out.get("queries").get("q_bad")
    assert(keys(bad) === Set("sec", "rows"))
    assert(bad.get("sec").asDouble === 0.0 && bad.get("rows").asLong === -1L)
    assert(out.get("errors").get("q_bad").asText === "boom \"quoted\"\n")
    assert(out.get("shed").get("1x").asText === "single-run-no-warm:1")
  }

  test("the 100x runs-per-row rule writes every shed note Bench writes") {
    // (planned runs, past the soft budget, first run s) -> (runs, shed)
    val table = Seq(
      (Runs100, false, 100.0, Runs100, None),
      (Runs100, true, 10.0, 2, None),
      (Runs100, true, Cheap100Sec, 2, None),
      (Runs100, true, 30.5, 1, Some("runs=1(budget)")),
      (3, false, 100.0, 3, None),
      (3, true, 10.0, 2, Some("runs=2(budget,cheap-min2)")),
      (3, true, 100.0, 1, Some("runs=1(budget)")))
    for ((planned, soft, first, runs, note) <- table) {
      val n = runs100(planned, soft, first)
      assert(n === runs, s"planned=$planned soft=$soft first=$first")
      assert(shed100(planned, n) === note)
    }
  }
}
