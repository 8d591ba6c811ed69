package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph operators for corpus curation — link-graph signals (domain
  * authority ranking a la CommonCrawl's harmonic/PageRank exports) used
  * to weight web-scraped training data.
  */
object Graph {

  /** PageRank in exact scaled-integer arithmetic: ranks live as
    * `floor(p * Scale)` BIGINTs and every update is integer division /
    * multiplication, so the result is bit-identical on any engine, any
    * partitioning, any summation order — float PageRank cannot promise
    * that (FP addition is not associative; a shuffle reorder changes the
    * last ulps), which is why this tier quantizes like the classifier
    * weights do.
    *
    * Update rule (damping d = DampNum/100 = 0.85, ranks scaled by
    * `Scale` = 10^12):
    * `R'(v) = ((Scale * (100-DampNum)) div 100) div n
    *          + (sum over in-edges of R(u) div deg(u)) * DampNum div 100`.
    * Dangling-node mass is dropped, not redistributed (the common
    * simplification; ranks then sum to < Scale — documented contract).
    * Duplicate edges are collapsed before ranking. Edges are read from
    * the `src` and `dst` columns.
    *
    * Scale shape (edge count >= `pinEdgeThreshold`): per iteration ONE
    * equi-join of edges against the current rank vector plus one
    * map-side-combined sum by dst — the standard distributed PR round.
    * `localCheckpoint` truncates the per-iteration lineage the same way
    * [[Dedup.connectedComponents]] does, and the loop INVARIANTS are
    * materialized ONCE before the loop: the deduped edge set, the node
    * set, and the whole degree-annotated edge table `eDeg` (= edges ⋈
    * out-degrees) — without that, each iteration's lineage re-runs the
    * edge-dedup shuffle, the out-degree aggregation, the degree join,
    * and the node-set distinct from the scan up (~3 corpus-sized
    * exchanges × iterations of pure redundancy at 25 M edges, ~40 % of
    * the r15 wall). Pins are MEMORY_AND_DISK_SER: serialized blocks are
    * compact enough not to reproduce the aggregate spill that
    * DESERIALIZED in-memory pins measured (388 MB at 25 M edges, the r16
    * rejection), excess still overflows to disk
    * instead of all-of-it, and because five rounds re-read the pins,
    * the all-disk shape is the one most exposed to disk contention —
    * measured at 25 M edges (BENCHNOTES r17): 48.2 s vs DISK_ONLY's
    * 60.4 s on a quiet box, 44.4 s vs 80.1 s under an induced
    * sequential disk-hog, zero task spill under both levels. Persist
    * KEEPS lineage, so an executor lost mid-ranking recomputes
    * deterministic blocks instead of failing the job (the
    * localCheckpoint trade documented on
    * [[Similarity.pqTopKWithBooks]]).
    *
    * Small graphs (below the threshold) rank DRIVER-LOCALLY instead —
    * the broadcast-join-threshold pattern applied to the whole
    * operator: at the gate (1 M deduped edges = ~16 MB collected) the
    * distributed round's fixed cost dominates its work (measured on a
    * 500-node graph: ~0.7 s per round of pure stage-scheduling/AQE
    * overhead, ~3.8 s of pin/count jobs — against milliseconds of
    * actual arithmetic), while the local loop is bounded by the collect
    * plus one local-relation materialization. The arithmetic is the
    * SAME exact integer recurrence, so both paths are bit-identical by
    * construction (unit-pinned). The 100 TB path is the distributed
    * one; the gate only decides who pays scheduling overhead.
    */
  def pageRank(edges: DataFrame, iterations: Int = 5,
      pinEdgeThreshold: Long = 1000000L): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    // drop malformed edges (null or uncastable src/dst) ONCE, before the
    // path gate: the local loop would NPE on a null Row.getLong and the
    // distributed one would silently keep a null node — both paths must
    // see the same edge set for the bit-identical contract to mean
    // anything
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val m = e.count() // sizes the path choice; materializes e either way
    if (m < pinEdgeThreshold)
      try pageRankLocal(edges.sparkSession, e.collect(), iterations)
      finally e.unpersist()
    else {
      // every pinned frame is tracked BEFORE its count job runs, so a
      // failure during any pin (or the loop) releases exactly what got
      // persisted — the r17 shape unpersisted only inside the loop's
      // try, leaking e/nodes when a pin job itself failed
      val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def pin(df: DataFrame): DataFrame = {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK_SER); pinned += p
        prePinHook(); p.count(); p
      }
      try {
        val nodes = pin(e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct())
        // the whole (src, dst, deg) join is loop-invariant too — pinning
        // it (not just e and outdeg separately) removes one corpus-sized
        // join per iteration, not merely its recomputation
        val eDeg = pin(e.join(
          e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src"))
        e.unpersist() // consumed by nodes/eDeg; never read again
        val n = nodes.count()
        require(n > 0, "empty graph")
        val base = ((Scale * (100 - DampNum)) / 100) / n // exact Long math

        var rank = nodes.select(col("node"), lit(Scale / n).as("rank"))
        for (_ <- 1 to iterations) {
          val contribs = eDeg
            .join(rank.withColumnRenamed("node", "src"), "src")
            .selectExpr("dst AS node", "rank div deg AS c")
            .groupBy(col("node")).agg(sum(col("c")).as("s"))
          rank = nodes.join(contribs, Seq("node"), "left")
            .selectExpr("node",
              s"$base + (coalesce(s, CAST(0 AS BIGINT)) * $DampNum) div 100 AS rank")
            .localCheckpoint()
        }
        rank
      } finally {
        // the failure path too: a failed pin or iteration must not leak
        // blocks for the session's life (unpersist is a no-op on the
        // already-released e of the success path)
        e.unpersist()
        pinned.foreach(_.unpersist())
      }
    }
  }

  /** Test seam: runs before each pin's materializing count job, so a
    * spec can inject a failure BETWEEN pins and assert the finally
    * releases every partially-pinned frame. Production value is a no-op.
    */
  private[graft] var prePinHook: () => Unit = () => ()

  private val DampNum = 85L
  private val Scale = 1000000000000L

  /** The sub-threshold driver-local loop: the identical integer
    * recurrence over collected (src, dst) rows. Integer sums are
    * order-independent, so this is bit-identical to the distributed
    * path — not an approximation tier.
    */
  private def pageRankLocal(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row], iterations: Int): DataFrame = {
    import spark.implicits._
    val deg = new scala.collection.mutable.HashMap[Long, Long]
    val nodes = new scala.collection.mutable.LinkedHashSet[Long]
    rows.foreach { r =>
      val s = r.getLong(0)
      deg.update(s, deg.getOrElse(s, 0L) + 1L)
      nodes += s
      nodes += r.getLong(1)
    }
    val n = nodes.size.toLong
    require(n > 0, "empty graph")
    val base = ((Scale * (100 - DampNum)) / 100) / n
    var rank = nodes.iterator.map(_ -> Scale / n).toMap
    for (_ <- 1 to iterations) {
      val s = new scala.collection.mutable.HashMap[Long, Long]
      rows.foreach { r =>
        val src = r.getLong(0)
        val dst = r.getLong(1)
        s.update(dst, s.getOrElse(dst, 0L) + rank(src) / deg(src))
      }
      rank = nodes.iterator
        .map(v => v -> (base + s.getOrElse(v, 0L) * DampNum / 100)).toMap
    }
    nodes.toSeq.map(v => (v, rank(v))).toDF("node", "rank")
  }
}
