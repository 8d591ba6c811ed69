package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** Registry consistency: the driver's correctness gate only checks
  * queries that ALSO have an oracle entry — a query silently missing its
  * oracle gets the weaker rows-only check, and an oracle without a query
  * checks nothing. `Query` takes its oracle as a constructor argument;
  * pin the two maps SparkEntry serves to each other as well, so drift
  * fails CI loudly instead of quietly weakening the gate.
  */
class RegistrySpec extends AnyFunSuite {

  test("every query has an oracle and every oracle has a query") {
    val q = Registry.queries.keySet
    val o = Registry.oracle.keySet
    assert((q -- o).isEmpty, s"queries missing oracles: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"orphaned oracles: ${(o -- q).toSeq.sorted}")
  }

  test("query names are unique across the groups (no silent overwrite)") {
    // every entry of every family file: a repeated name would otherwise
    // vanish into the name-keyed maps SparkEntry serves
    val dup = Registry.all.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name
    }
    assert(dup.isEmpty, s"duplicated query names: ${dup.toSeq.sorted}")
    assert(Registry.queries.size === Registry.all.size)
  }

  test("bench 10x headline names all resolve to registered queries") {
    val missing = BenchScale.headline.filterNot(Registry.queries.contains)
    assert(missing.isEmpty, s"headline entries without queries: $missing")
  }

  test("every oracle's SQL is byte-identical to its pinned sha-256") {
    // src/test/resources/oracle_sql_sha256.json: regenerate it with
    // graft.tools.SnapshotOracleSql only when an oracle changes on purpose
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/oracle_sql_sha256.json"), "UTF-8")
    val text = try src.mkString finally src.close()
    val pinned = """"([^"]+)": "([0-9a-f]{64})"""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
    val got = graft.tools.SnapshotOracleSql.hashes.toMap
    assert(pinned.size === 199, "golden truncated")
    assert((pinned.keySet -- got.keySet).isEmpty,
      s"pinned but gone: ${(pinned.keySet -- got.keySet).toSeq.sorted}")
    assert((got.keySet -- pinned.keySet).isEmpty,
      s"not pinned: ${(got.keySet -- pinned.keySet).toSeq.sorted}")
    val changed = pinned.collect { case (n, h) if got(n) != h => n }
    assert(changed.isEmpty, s"oracle SQL changed: ${changed.toSeq.sorted}")
  }

  test("oracle SQL strings are non-empty") {
    Registry.oracle.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
    }
  }
}
