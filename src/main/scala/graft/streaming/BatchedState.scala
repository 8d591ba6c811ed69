package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Micro-batch-versioned persisted state for standing dedup pipelines —
  * the snapshot + delta layout that makes at-least-once micro-batch
  * appends idempotent WITHOUT any read-time dedup (the reference keeps
  * its analogous series state bounded with quotas + periodic reloads:
  * `task/sinker.go` series map; we need the same lifecycle story for
  * dedup state at 100 TB).
  *
  * Layout under `dir`:
  * {{{
  *   dir/snap=<S>/...    one compacted snapshot covering every batch <= S
  *                       ("batch" kept as a DATA column per row)
  *   dir/batch=<N>/...   one delta per admitted micro-batch (seed = -1)
  * }}}
  *
  * Idempotency: [[append]] writes `dir/batch=<N>` with OVERWRITE
  * semantics, so a crash-replayed batch overwrites its own half-landed
  * delta instead of doubling rows — reads never need `dropDuplicates`,
  * which on the old append-only layout was a corpus-wide hash aggregate
  * per micro-batch.
  *
  * Determinism under replay: [[read]]`(before = N)` returns exactly the
  * rows of batches `< N` (the snapshot's per-row `batch` column makes
  * the bound hold through compaction), so a replay of batch N sees the
  * SAME state the clean run saw even when the crashed attempt's state
  * append already landed.
  *
  * Pruning: `partitionCols` (e.g. a band-key bucket) are written as
  * directory partitions inside every delta and snapshot, so a reader
  * filtering on them scans only the matching files.
  *
  * Lifecycle: [[compact]] folds all current deltas into one snapshot
  * (written to a hidden temp dir, then atomically renamed — a crash
  * mid-compaction leaves the old snapshot + deltas intact) and can
  * evict aged rows (`keepFrom`) at the same time. Only call it for
  * batches the stream's checkpoint has committed: a batch id may be
  * replayed until its commit lands, and [[read]]`(before)` assumes ids
  * at or below the snapshot bound are final.
  *
  * Writer lease: every mutating call ([[seed]]/[[append]]/[[compact]])
  * stamps a `_lease` file with the PROCESS owner id + a heartbeat and
  * refuses when another live process holds it — two streams pointed at
  * one stateDir previously corrupted silently until the monotonic-id
  * guard tripped after the fact. A heartbeat older than
  * `leaseTimeoutMs` (default 10 min) is a crashed writer; the next
  * writer takes the lease over. The lease is a corruption GUARD for a
  * misconfiguration, not a coordination primitive — the residual
  * read-check-write race (two processes adjudicating the same instant)
  * is far narrower than the unguarded window it closes. Readers never
  * need the lease.
  */
final class BatchedState(spark: SparkSession, dir: String,
    partitionCols: Seq[String] = Nil,
    leaseTimeoutMs: Long = BatchedState.DefaultLeaseTimeoutMs)
    extends Serializable {

  import BatchedState.SeedBatch

  private def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `Some(id)` for a well-formed `<prefix><long>` dir name, `None` for
    * a stray sibling (manual recovery attempt, editor backup) — those
    * must never turn a listing into an opaque NumberFormatException.
    */
  private def numericSuffix(name: String, prefix: String): Option[Long] =
    scala.util.Try(name.stripPrefix(prefix).toLong).toOption

  private def listIds(prefix: String): Seq[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    else {
      val named = fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
        .map(_.getPath.getName)
      // a non-numeric batch=/snap= sibling LOOKS like state but can never
      // be read as state — refuse loudly instead of silently skipping it
      val stray = named.filter(numericSuffix(_, prefix).isEmpty)
      if (stray.nonEmpty) throw new IllegalStateException(
        s"BatchedState at $dir holds non-numeric state dir(s) " +
          s"${stray.sorted.mkString(", ")} — not ${prefix}<id> form; rename " +
          "or remove them (their rows are invisible to every read)")
      named.flatMap(numericSuffix(_, prefix))
    }
  }

  private def hasDataFile(p: Path): Boolean = {
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext) {
      val n = it.next().getPath.getName
      found = !n.startsWith("_") && !n.startsWith(".")
    }
    found
  }

  /** Bounds of data-bearing hidden snapshot dirs (`.trash-snap-` /
    * `.staged-snap-`) — crash leftovers of [[compact]]'s replace dance.
    */
  private def hiddenIds(prefix: String): Seq[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    // non-numeric hidden siblings are manual artifacts, not compaction
    // leftovers: ignore them (and never GC them) rather than crash
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix) &&
        hasDataFile(s.getPath))
      .flatMap(s => numericSuffix(s.getPath.getName, prefix))
  }

  // ---- writer lease ---------------------------------------------------

  private def leasePath = new Path(s"$dir/_lease")

  private def readLease(): Option[(String, Long)] = {
    if (!fs.exists(leasePath)) None
    else scala.util.Try {
      val in = fs.open(leasePath)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val kv = lines.filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
      (kv("owner"), kv("ts").toLong)
    }.toOption
  }

  private def writeLease(): Unit = {
    val out = fs.create(leasePath, true)
    try out.write(
      s"owner=${BatchedState.processOwnerId}\nts=${System.currentTimeMillis()}\n"
        .getBytes("UTF-8"))
    finally out.close()
    BatchedState.stamped.put(dir, this)
  }

  /** Refuse when another live process holds the lease; otherwise stamp
    * (acquire, renew, or take over a stale one). Called by every
    * mutating operation.
    */
  private def ensureLease(): Unit = readLease() match {
    case Some((owner, ts)) if owner != BatchedState.processOwnerId &&
        System.currentTimeMillis() - ts < leaseTimeoutMs =>
      throw new IllegalStateException(
        s"BatchedState at $dir is being written by another live process " +
          s"($owner, heartbeat ${System.currentTimeMillis() - ts} ms ago; " +
          s"timeout $leaseTimeoutMs ms) — two concurrent writers on one " +
          "stateDir corrupt it. Point the second stream at its own " +
          "stateDir, or wait out / remove the stale _lease if that " +
          "process is gone")
    case _ => writeLease()
  }

  /** Drop the lease if this process holds it — a graceful hand-off so a
    * successor need not wait out the heartbeat timeout.
    */
  def releaseLease(): Unit = readLease() match {
    case Some((owner, _)) if owner == BatchedState.processOwnerId =>
      fs.delete(leasePath, false)
    case _ => ()
  }

  /** Ids of live (not yet compacted-away) delta batches. */
  def deltaIds: Seq[Long] = listIds("batch=")

  /** Bound of the newest snapshot, if any. */
  def snapshotId: Option[Long] =
    listIds("snap=").sorted.lastOption

  /** Highest batch id present in snapshot or deltas. */
  def maxBatchId: Option[Long] =
    (deltaIds ++ snapshotId).sorted.lastOption

  /** Whether any snapshot or delta holds at least one data file —
    * distinguishes absent/empty state (schema-sniffing callers fall
    * back to their canonical layout) from a state whose READ failures
    * must propagate.
    */
  def hasAnyData: Boolean =
    (snapshotId.map(s => new Path(s"$dir/snap=$s")) ++
      deltaIds.map(id => new Path(s"$dir/batch=$id"))).exists(hasDataFile)

  /** Cluster rows by the partition columns before a partitioned write:
    * without it every writing TASK opens a file in every partition-value
    * dir it sees — tasks x buckets files per write (measured: the
    * dominant phase of the 10x replay bench was compaction walking/
    * writing thousands of KB-sized files, 32 tasks x 32 buckets x 2
    * states). Clustered, each bucket value lands in exactly one task ->
    * ONE file per bucket per write; the extra exchange moves only the
    * (batch- or state-sized) rows being written. At cluster scale this
    * is the difference between a state dir of O(buckets) files and one
    * of O(tasks x buckets) — file-listing cost dominates small-state
    * reads long before byte cost does.
    */
  private def clustered(df: DataFrame): DataFrame =
    if (partitionCols.isEmpty) df
    else df.repartition(partitionCols.map(col): _*)

  /** Write one micro-batch's state rows. OVERWRITES `dir/batch=<id>`,
    * so a replayed batch replaces its own previous attempt.
    */
  def append(df: DataFrame, batchId: Long): Unit = {
    ensureLease()
    val w = clustered(df).write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(s"$dir/batch=$batchId")
  }

  /** Write the initial reference state (batch id -1 — ordered before
    * every Structured Streaming batch id). May be called with an empty
    * frame to start a pipeline with no reference corpus.
    */
  def seed(df: DataFrame): Unit = append(df, SeedBatch)

  /** All state rows from batches `< before`, with the originating
    * `batch` id as a column. Listing happens eagerly on the driver, so
    * the returned plan can never pick up files a concurrent [[append]]
    * adds later — callers need no localCheckpoint fencing.
    *
    * `fallback`: the row schema to materialize an EMPTY state frame
    * from. A zero-row partitioned write produces no parquet files at
    * all (only `_SUCCESS`), so a pipeline seeded with an empty
    * reference corpus has nothing to infer a schema from — callers that
    * support the empty-start case pass the schema they are about to
    * [[append]].
    */
  def read(before: Long = Long.MaxValue,
      fallback: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    def emptyState: DataFrame = {
      fallback match {
        case Some(sch) =>
        val withBatch = org.apache.spark.sql.types.StructType(
          sch.fields :+ org.apache.spark.sql.types.StructField(
            "batch", org.apache.spark.sql.types.LongType))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withBatch)
        case None => throw new IllegalStateException(
          s"BatchedState at $dir is empty — seed() it before reading, or " +
            "pass a fallback schema for the empty-start case")
      }
    }
    val snap = snapshotId
    // a data-bearing trash dir ABOVE the newest visible snapshot (which
    // includes "no snapshot visible at all") = a compaction crashed
    // between rename-aside and rename-in. The trashed snapshot holds
    // compacted batches nothing visible covers — its deltas were deleted
    // when it first landed — so reading on would silently serve stale
    // state (e.g. a stale older snap=<A> left by a prior interrupted
    // cleanup) and admit the compacted corpus's duplicates as unique.
    val staleTrash = hiddenIds(".trash-snap-").filter(b => snap.forall(b > _))
    if (staleTrash.nonEmpty)
      throw new IllegalStateException(
        s"BatchedState at $dir holds hidden .trash-snap dir(s) at bound(s) " +
          s"${staleTrash.sorted.mkString(",")} above the newest visible " +
          s"snapshot (${snap.fold("none")(_.toString)}) — an interrupted " +
          "compaction replace; recover by renaming .trash-snap-<B> (the " +
          "pre-replace snapshot) or .staged-snap-<B> (the replacement) " +
          "back to snap=<B>")
    // a staged snapshot above the visible bound is safe only while the
    // deltas it folded still exist (a crash BEFORE rename-in leaves them
    // intact); with no newer delta in sight, the staged dir is the SOLE
    // holder of those rows and reading on would drop them
    val newerDeltaExists = deltaIds.exists(id => snap.forall(id > _) &&
      hasDataFile(new Path(s"$dir/batch=$id")))
    if (!newerDeltaExists) {
      val staleStaged = hiddenIds(".staged-snap-").filter(b => snap.forall(b > _))
      if (staleStaged.nonEmpty)
        throw new IllegalStateException(
          s"BatchedState at $dir holds hidden .staged-snap dir(s) at " +
            s"bound(s) ${staleStaged.sorted.mkString(",")} above the newest " +
            s"visible snapshot (${snap.fold("none")(_.toString)}) with no " +
            "surviving deltas — an interrupted compaction replace; recover " +
            "by renaming .staged-snap-<B> back to snap=<B>")
    }
    val deltaPaths = deltaIds.filter(id => snap.forall(id > _) && id < before)
      .map(id => new Path(s"$dir/batch=$id"))
    // zero-row writes leave file-less dirs: only dirs that actually
    // hold data files can feed the reader (and an all-empty state needs
    // the fallback schema)
    val deltas = deltaPaths.filter(hasDataFile).map(_.toString)
    val parts = Seq.newBuilder[DataFrame]
    snap.filter(s => hasDataFile(new Path(s"$dir/snap=$s"))).foreach { s =>
      parts += spark.read.parquet(s"$dir/snap=$s")
        .withColumn("batch", col("batch").cast("long"))
        .filter(col("batch") < before)
    }
    if (deltas.nonEmpty)
      parts += spark.read.option("basePath", dir).parquet(deltas: _*)
        .withColumn("batch", col("batch").cast("long"))
    val all = parts.result()
    if (all.isEmpty) emptyState
    else all.reduce(_.unionByName(_))
  }

  /** Delete the whole state directory — the start of a fresh seed.
    * Without it a re-[[seed]] would only overwrite `batch=-1` and leave
    * every previously admitted batch in state.
    */
  def reset(): Unit = {
    val p = new Path(dir)
    if (fs.exists(p)) {
      ensureLease() // deleting live state out from under a writer is the
      fs.delete(p, true) // same corruption the lease exists to refuse
    }
  }

  /** Fold the deltas with id `<= upTo` (default: all) into one snapshot
    * and delete the superseded deltas/snapshots. Rows from batches
    * `< keepFrom` are evicted (age-based TTL: the `batch` id is the age
    * axis). Bound `upTo` to the last COMMITTED batch id when compacting
    * while a stream runs — the in-flight batch's delta must stay a
    * delta so its replay can overwrite it.
    *
    * Folding rewrites the covered state (one read + one write of every
    * surviving row), so pace calls to amortize it — compaction is the
    * lifecycle lever, not a per-batch operation. A call with nothing
    * new to fold (the current snapshot is already the bound and no
    * data-bearing deltas are at or below it) is a no-op unless it
    * evicts (`keepFrom`).
    *
    * Crash safety: the new snapshot is staged in a hidden dir and
    * renamed into place. When an existing snapshot at the same bound is
    * replaced (an eviction rewrite), it is first renamed aside to a
    * hidden trash dir and deleted only after the staged dir lands — a
    * crash between the two renames leaves the state recoverable from
    * the hidden dirs, and [[read]] fails LOUDLY (rather than returning
    * an empty state) when it finds hidden snapshot dirs but no visible
    * data.
    */
  def compact(keepFrom: Long = Long.MinValue,
      upTo: Long = Long.MaxValue): Unit = {
    ensureLease()
    // file-less delta dirs (empty micro-batches) carry no rows: they are
    // dropped from the fold bound (an idle stream must not trigger a
    // full-corpus rewrite every interval) and their committed dirs are
    // garbage-collected here
    val dataDeltaIds = deltaIds.filter(id => id <= upTo &&
      hasDataFile(new Path(s"$dir/batch=$id")))
    val bound = (dataDeltaIds ++ snapshotId.filter(_ <= upTo))
      .maxOption.getOrElse(return)
    deltaIds.filter(id => id <= upTo && !dataDeltaIds.contains(id) &&
        id != bound)
      .foreach(id => fs.delete(new Path(s"$dir/batch=$id"), true))
    val liveDeltas = dataDeltaIds.filter(_ <= bound)
    val snapIsBound = snapshotId.contains(bound)
    if (liveDeltas.isEmpty && !snapshotId.exists(s =>
        hasDataFile(new Path(s"$dir/snap=$s")))) return
    // nothing new to fold and nothing to evict -> avoid the rewrite AND
    // the replace window entirely
    if (liveDeltas.isEmpty && snapIsBound && keepFrom == Long.MinValue) return
    val snapshot = read(before = bound + 1).filter(col("batch") >= keepFrom)
    val staged = new Path(s"$dir/.staged-snap-$bound")
    val target = new Path(s"$dir/snap=$bound")
    val trash = new Path(s"$dir/.trash-snap-$bound")
    val w = clustered(snapshot).write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staged.toString)
    if (fs.exists(target)) {
      if (fs.exists(trash)) fs.delete(trash, true)
      require(fs.rename(target, trash),
        s"compaction rename-aside $target -> $trash failed")
    }
    require(fs.rename(staged, target),
      s"compaction rename $staged -> $target failed")
    fs.delete(trash, true)
    deltaIds.filter(_ <= bound)
      .foreach(id => fs.delete(new Path(s"$dir/batch=$id"), true))
    listIds("snap=").filter(_ < bound)
      .foreach(s => fs.delete(new Path(s"$dir/snap=$s"), true))
    // GC hidden staged/trash dirs orphaned by compacts that crashed at
    // OLDER bounds: a later compact never lands on their bound again, so
    // without this sweep a long-lived state dir leaks them forever (the
    // just-landed snapshot at `bound` supersedes everything below it)
    Seq(".staged-snap-", ".trash-snap-").foreach { prefix =>
      val root = new Path(dir)
      if (fs.exists(root)) fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix) &&
          // non-numeric hidden siblings are NOT ours to GC
          numericSuffix(s.getPath.getName, prefix).exists(_ < bound))
        .foreach(s => fs.delete(s.getPath, true))
    }
  }
}

object BatchedState {
  /** Batch id used by [[BatchedState.seed]] — below every Structured
    * Streaming batch id (those start at 0).
    */
  val SeedBatch: Long = -1L

  /** A writer heartbeat older than this is a crashed process; the next
    * writer takes the lease over.
    */
  val DefaultLeaseTimeoutMs: Long = 10 * 60 * 1000L

  /** PROCESS-stable writer identity: one pipeline routinely holds several
    * [[BatchedState]] instances (a twin's signature + band states) in one
    * JVM, and they must share the lease rather than evict each other. The
    * random tail disambiguates PID reuse across container restarts.
    */
  val processOwnerId: String =
    s"pid${ProcessHandle.current().pid()}-" +
      java.util.UUID.randomUUID().toString.take(8)

  /** Every state this process stamped a lease on, by dir. */
  private val stamped = new ConcurrentHashMap[String, BatchedState]()

  /** Release every lease this process still holds ([[releaseLease]]
    * leaves a lease another owner took over untouched). Runs when the
    * JVM exits normally, before Hadoop closes its cached FileSystems, so
    * a finished run hands its state dirs straight to the next process
    * instead of blocking it for [[DefaultLeaseTimeoutMs]].
    */
  private[graft] def releaseStampedLeases(): Unit =
    stamped.values().forEach { st =>
      scala.util.Try(st.releaseLease())
      ()
    }

  ShutdownHookManager.get().addShutdownHook(() => releaseStampedLeases(),
    FileSystem.SHUTDOWN_HOOK_PRIORITY + 1)

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Persist the derivation parameters beside the state (one `k=v` line
    * per entry). Bucket counts and band geometry bake into the stored
    * rows — a restart with different values would silently prune real
    * state rows and admit duplicates as unique, so the twins write this
    * at seed time and [[validateParams]] on first admission.
    */
  def writeParams(spark: SparkSession, stateDir: String,
      params: Map[String, String]): Unit = {
    val fs = fsOf(spark, stateDir)
    val out = fs.create(new Path(s"$stateDir/_params"), true)
    try out.write(params.toSeq.sorted
      .map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Remove the parameter marker — the FIRST step of a re-seed, so a
    * crash mid-seed leaves a state that [[validateParams]] refuses
    * loudly instead of one that silently dedups against nothing.
    */
  def clearParams(spark: SparkSession, stateDir: String): Unit = {
    val fs = fsOf(spark, stateDir)
    val p = new Path(s"$stateDir/_params")
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Refuse a batch id BELOW the state's current head. An admission must
    * carry either the next id or a crash replay of the current head —
    * anything lower means the stream's checkpoint and the state dir
    * disagree (the classic case: a FRESH checkpointDir restarting batch
    * ids at 0 over an existing stateDir). Continuing would be silently
    * wrong twice over: `read(before = 0)` hides every previously
    * admitted batch, and the old run's stale higher-id deltas resurface
    * once the restarted ids pass them. [[validateParams]] cannot catch
    * this (the parameters match) — only the id head can.
    */
  def requireMonotonicBatchId(batchId: Long, states: Seq[BatchedState],
      stateDir: String): Unit =
    states.flatMap(_.maxBatchId).maxOption.filter(_ > batchId).foreach { h =>
      throw new IllegalStateException(
        s"batch id $batchId is below the state head $h at $stateDir — the " +
          "stream checkpoint and the state dir disagree (a fresh " +
          "checkpointDir over an existing stateDir restarts ids at 0 and " +
          "silently dedups against hidden state); restart with the " +
          "original checkpoint or re-seed (reset) the state")
    }

  /** Fail loudly when persisted parameters disagree with the caller's —
    * or when the marker is missing entirely: `_params` is written as
    * the LAST step of a successful seed, so its absence means the
    * stateDir was never seeded, points at the wrong path, or a re-seed
    * crashed midway. Every case must refuse rather than silently admit
    * all documents as unique against an empty state.
    */
  /** The persisted parameter map, or a loud refusal when the marker is
    * absent (same semantics as [[validateParams]]'s missing-marker
    * case). For DIR-scoped layout facts a caller cannot know up front —
    * e.g. the substring twin's historical `pos` width — the stored map
    * is the authority and validation happens against it, not the other
    * way around.
    */
  def readParams(spark: SparkSession, stateDir: String): Map[String, String] = {
    val fs = fsOf(spark, stateDir)
    val p = new Path(s"$stateDir/_params")
    if (!fs.exists(p)) throw new IllegalStateException(
      s"no _params marker at $stateDir — not a (fully) seeded state dir: " +
        "seed() it, or check the path; a marker-less dir with state files " +
        "means a re-seed crashed midway")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
    finally in.close()
  }

  def validateParams(spark: SparkSession, stateDir: String,
      params: Map[String, String]): Unit = {
    val stored = readParams(spark, stateDir)
    // a caller key ABSENT from the stored marker is drift too: it means
    // the dir was seeded by a version that predates the parameter —
    // layout-version keys (e.g. the minhash twin's `shingles=fp64`) rely
    // on this to refuse an old-layout dir loudly here, instead of via an
    // opaque parquet schema conflict at the first append
    val drift = params.collect {
      case (k, v) if !stored.get(k).contains(v) =>
        s"$k: stored=${stored.getOrElse(k, "<absent — predates this " +
          "parameter>")} caller=$v"
    }
    require(drift.isEmpty,
      s"state at $stateDir was built with different parameters — " +
        s"${drift.mkString("; ")}. Re-seed (reset) or restore the " +
        "original values.")
  }
}
