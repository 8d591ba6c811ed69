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

  test("oracle SQL strings are non-empty") {
    Registry.oracle.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
    }
  }
}
