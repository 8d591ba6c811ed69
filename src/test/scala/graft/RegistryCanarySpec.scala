package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-gate regression canary (the r11 lesson institutionalized): the
  * full green registry is snapshotted in `registry_green.json`
  * (rows + schema per query at sf0.001 — see
  * [[graft.tools.SnapshotRegistry]]); this spec replays every snapshotted
  * query and fails if
  *   - the query or its DuckDB oracle disappeared from the registry, or
  *   - its output schema (names + types, the driver's hash surface) or
  *     row count drifted.
  * Queries run CONCURRENTLY (they are independent Spark jobs) to keep the
  * suite's wall time bounded.
  */
class RegistryCanarySpec extends AnyFunSuite with LocalSpark {
  private val sf = "/root/testdata/sf0.001"

  private lazy val fixture: Map[String, (Long, String)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/registry_green.json"), "UTF-8")
    val text = try src.mkString finally src.close()
    val entry =
      """"([^"]+)": \{"rows": (\d+), "schema": "([^"]*)"\}""".r
    entry.findAllMatchIn(text)
      .map(m => m.group(1) -> ((m.group(2).toLong, m.group(3))))
      .toMap
  }

  test("every snapshotted query still has a registry entry AND an oracle") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val lostQuery = fixture.keySet -- qs
    val lostOracle = fixture.keySet -- os
    assert(lostQuery.isEmpty, s"queries dropped from registry: $lostQuery")
    assert(lostOracle.isEmpty, s"queries that LOST their oracle: $lostOracle")
    // the converse gate: a NEWLY added registry query with no fixture
    // entry must red the suite in the SAME commit (regen the snapshot
    // with graft.tools.SnapshotRegistry) — without this, an
    // oracle-less or drifting new query sails through sbt test and is
    // only caught by the driver's gate a round late
    val unsnapshotted = qs -- fixture.keySet
    assert(unsnapshotted.isEmpty,
      s"registry queries missing from registry_green.json (regen the " +
        s"snapshot): $unsnapshotted")
    assert(fixture.size >= 193, s"fixture truncated: ${fixture.size} entries")
  }

  test("no snapshotted query's output schema or row count drifted") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val checks = fixture.toSeq.sortBy(_._1).map { case (name, (rows, schema)) =>
      scala.concurrent.Future {
        val df = SparkEntry.queries(name)(spark, sf)
        val gotSchema = graft.tools.SnapshotRegistry.schemaString(df)
        val gotRows = df.count()
        if (gotSchema != schema)
          Some(s"$name: schema drifted\n  was $schema\n  got $gotSchema")
        else if (gotRows != rows)
          Some(s"$name: rows drifted (was $rows, got $gotRows)")
        else None
      }
    }
    val drift = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(checks),
      scala.concurrent.duration.Duration(20, "min")).flatten
    pool.shutdown()
    assert(drift.isEmpty, drift.mkString("\n"))
  }
}
