package graft

import org.apache.spark.sql.SparkSession

/** The one test session. Every suite runs in one forked JVM and
  * `GraftSession.local` is a `getOrCreate`, so whichever suite asks
  * first fixes the static config (core count, default parallelism) for
  * all the others. Every suite therefore asks for the same `local(8)` —
  * the count `OperatorsSpec` was written against, under which "AQE
  * splits the hot bucket" passes on its own — and the result no longer
  * depends on suite order. Each suite's first use re-applies the
  * builder's runtime SQL confs (shuffle partitions, AQE, ANSI, ...).
  */
trait LocalSpark {
  lazy val spark: SparkSession = GraftSession.local(8)
}
