package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BatchedState

/** The snapshot + delta state store under the streaming dedup twins:
  * overwrite-idempotent appends, replay-deterministic `read(before)`,
  * crash-safe compaction, age eviction, partition-pruned reads.
  */
class BatchedStateSpec extends AnyFunSuite with LocalSpark {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(st: BatchedState, before: Long = Long.MaxValue) =
    st.read(before).select("id", "batch").as[(Long, Long)].collect().toSet

  test("append is overwrite-idempotent: a replayed batch replaces itself") {
    val st = new BatchedState(spark, tmp("bs_idem"))
    st.seed(Seq(1L, 2L).toDF("id"))
    st.append(Seq(10L).toDF("id"), 0L)
    // crash replay of batch 0 with (say) different partitioning of the
    // same logical rows: state must hold ONE copy, the latest
    st.append(Seq(10L).toDF("id").repartition(3), 0L)
    assert(rows(st) === Set((1L, -1L), (2L, -1L), (10L, 0L)))
  }

  test("read(before) returns exactly the batches below the bound") {
    val st = new BatchedState(spark, tmp("bs_before"))
    st.seed(Seq(1L).toDF("id"))
    st.append(Seq(10L).toDF("id"), 0L)
    st.append(Seq(20L).toDF("id"), 1L)
    assert(rows(st, before = 0L) === Set((1L, -1L)))
    assert(rows(st, before = 1L) === Set((1L, -1L), (10L, 0L)))
    assert(rows(st) === Set((1L, -1L), (10L, 0L), (20L, 1L)))
  }

  test("compact folds deltas into one snapshot and keeps read(before) exact") {
    val dir = tmp("bs_compact")
    val st = new BatchedState(spark, dir)
    st.seed(Seq(1L).toDF("id"))
    st.append(Seq(10L).toDF("id"), 0L)
    st.append(Seq(20L).toDF("id"), 1L)
    st.compact()
    assert(st.deltaIds.isEmpty && st.snapshotId === Some(1L))
    // the per-row batch column keeps the replay bound exact THROUGH the
    // snapshot: a replay of batch 1 still sees only seed + batch 0
    assert(rows(st, before = 1L) === Set((1L, -1L), (10L, 0L)))
    assert(rows(st) === Set((1L, -1L), (10L, 0L), (20L, 1L)))
    // new deltas layer on top of the snapshot
    st.append(Seq(30L).toDF("id"), 2L)
    assert(rows(st) === Set((1L, -1L), (10L, 0L), (20L, 1L), (30L, 2L)))
    st.compact()
    assert(st.snapshotId === Some(2L) && st.deltaIds.isEmpty)
    assert(rows(st) === Set((1L, -1L), (10L, 0L), (20L, 1L), (30L, 2L)))
  }

  test("compact(upTo) folds only committed batches; later deltas stay deltas") {
    val st = new BatchedState(spark, tmp("bs_upto"))
    st.seed(Seq(1L).toDF("id"))
    st.append(Seq(10L).toDF("id"), 0L)
    st.append(Seq(20L).toDF("id"), 1L) // in-flight: must stay a delta
    st.compact(upTo = 0L)
    assert(st.snapshotId === Some(0L) && st.deltaIds === Seq(1L))
    assert(rows(st) === Set((1L, -1L), (10L, 0L), (20L, 1L)))
    // the in-flight batch can still overwrite itself (crash replay)
    st.append(Seq(21L).toDF("id"), 1L)
    assert(rows(st) === Set((1L, -1L), (10L, 0L), (21L, 1L)))
  }

  test("attach(autoCompactEvery): state folds mid-stream, pairs stay exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stateDir = tmp("sd_auto")
    val pairsDir = tmp("sd_auto_pairs")
    val sd = new StreamingDedup(spark, stateDir, "doc_id", "text")
    sd.seed(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"))
    val mem = MemoryStream[(Long, String)]
    val q = sd.attach(mem.toDF().toDF("doc_id", "text"), pairsDir,
      tmp("sd_auto_ck"), autoCompactEvery = 1).start()
    mem.addData((101L, "novel doc about lsh banding written in batch zero"))
    q.processAllAvailable()
    mem.addData((201L, "the quick brown fox jumps over the lazy dog"), // dup of seed
      (202L, "novel doc about lsh banding written in batch zero"))     // dup of b0
    q.processAllAvailable()
    mem.addData((301L, "novel doc about lsh banding written in batch zero"))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.read.parquet(pairsDir)
      .select("ref_id", "new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 201L), (101L, 202L), (101L, 301L), (202L, 301L)),
      s"pairs drifted under auto-compaction: $pairs")
    // compaction actually ran: the shingle store has a snapshot
    val sh = new BatchedState(spark, s"$stateDir/shingles", Seq("ib"))
    assert(sh.snapshotId.nonEmpty, "no snapshot written by auto-compaction")
  }

  test("compact(keepFrom) evicts aged rows (batch id is the age axis)") {
    val st = new BatchedState(spark, tmp("bs_ttl"))
    st.seed(Seq(1L).toDF("id"))
    st.append(Seq(10L).toDF("id"), 0L)
    st.append(Seq(20L).toDF("id"), 1L)
    st.compact(keepFrom = 0L) // evict the seed, keep batches >= 0
    assert(rows(st) === Set((10L, 0L), (20L, 1L)))
  }

  test("partition columns prune the state scan") {
    val st = new BatchedState(spark, tmp("bs_prune"), Seq("bk"))
    st.seed(Seq((1L, 0), (2L, 1), (3L, 2)).toDF("id", "bk"))
    st.append(Seq((10L, 1)).toDF("id", "bk"), 0L)
    val pruned = st.read().where(col("bk") === 1)
    assert(pruned.select("id").as[Long].collect().toSet === Set(2L, 10L))
    // the pushed partition filter reaches the file scan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bk"),
      s"partition filter not pushed:\n$plan")
  }

  test("partitioned writes are clustered: one data file per bucket value") {
    // without pre-write clustering every writing task opens a file in
    // every bucket dir it sees — tasks x buckets files per write. That
    // file explosion made compaction the dominant phase of the 10x
    // replay bench (121s -> 14.9s once fixed); pin one-file-per-bucket
    val st = new BatchedState(spark, tmp("bs_files"), Seq("bk"))
    val wide = spark.range(1000).select(col("id"),
      pmod(col("id"), lit(4)).cast("int").as("bk")).repartition(8)
    st.seed(wide)
    st.append(wide.withColumn("id", col("id") + 1000), 0L)
    st.compact()
    val snapDir = new java.io.File(tmpOf(st))
    def dataFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) dataFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    val byDir = dataFiles(snapDir).groupBy(_.getParentFile.getName)
      .filter(_._1.startsWith("bk="))
    assert(byDir.nonEmpty, s"no bucket dirs under $snapDir")
    byDir.foreach { case (bk, fs) =>
      assert(fs.size === 1,
        s"$bk has ${fs.size} data files — writes are not clustered")
    }
  }

  // the state dir root of a BatchedState (via its read plan's files)
  private def tmpOf(st: BatchedState): String = {
    val f = new java.io.File(new java.net.URI(st.read().inputFiles.head))
    // .../snap=N/bk=K/part-*.parquet or .../batch=N/bk=K/part-*.parquet
    f.getParentFile.getParentFile.getParentFile.getPath
  }

  test("empty-start: a pipeline seeded with no reference corpus works") {
    import graft.streaming.StreamingDedup
    val sd = new StreamingDedup(spark, tmp("sd_empty"), "doc_id", "text")
    // zero-row partitioned writes produce no parquet files — the read
    // path must fall back to the batch-side schema instead of failing
    // schema inference
    sd.seed(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val b0 = sd.admit(Seq(
      (100L, "the very first document this empty pipeline ever admits"))
      .toDF("doc_id", "text"), 0L)
    assert(b0.count() === 0)
    val b1 = sd.admit(Seq(
      (200L, "the very first document this empty pipeline ever admits"))
      .toDF("doc_id", "text"), 1L)
    val pairs = b1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((100L, 200L)), s"cross-batch pair missing: $pairs")
    // compaction on a sparsely-filled state also holds
    sd.compact()
    val b2 = sd.admit(Seq(
      (300L, "the very first document this empty pipeline ever admits"))
      .toDF("doc_id", "text"), 2L)
    assert(b2.count() === 2)
    // an EMPTY micro-batch admits cleanly too (zero-row localCheckpoint,
    // empty prune sets) and later batches still see correct state
    assert(sd.admit(Seq.empty[(Long, String)].toDF("doc_id", "text"), 3L)
      .count() === 0)
    assert(sd.admit(Seq(
      (400L, "the very first document this empty pipeline ever admits"))
      .toDF("doc_id", "text"), 4L).count() === 3)
  }

  test("re-seed replaces the whole state (stale admitted batches vanish)") {
    import graft.streaming.StreamingDedup
    val dir = tmp("sd_reseed")
    val sd = new StreamingDedup(spark, dir, "doc_id", "text")
    sd.seed(Seq((1L, "old reference corpus document about archived topics"))
      .toDF("doc_id", "text"))
    sd.admit(Seq((100L, "an admitted doc that must not survive re-seeding"))
      .toDF("doc_id", "text"), 0L)
    // new corpus, fresh start: neither the old seed nor batch 0 remain
    sd.seed(Seq((2L, "brand new reference corpus document about fresh topics"))
      .toDF("doc_id", "text"))
    val pairs = sd.admit(Seq(
      (200L, "an admitted doc that must not survive re-seeding"), // vs stale b0
      (201L, "brand new reference corpus document about fresh topics"))
      .toDF("doc_id", "text"), 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((2L, 201L)), s"stale state leaked into pairs: $pairs")
  }

  test("restarting with different state parameters fails loudly") {
    import graft.streaming.StreamingDedup
    val dir = tmp("sd_params")
    new StreamingDedup(spark, dir, "doc_id", "text", nBuckets = 32)
      .seed(Seq((1L, "seed doc")).toDF("doc_id", "text"))
    // a restart with a different bucket count would silently prune most
    // state rows from every bucket-filtered read — must refuse instead
    val drifted = new StreamingDedup(spark, dir, "doc_id", "text", nBuckets = 16)
    val e = intercept[IllegalArgumentException](
      drifted.admit(Seq((2L, "x")).toDF("doc_id", "text"), 0L))
    assert(e.getMessage.contains("nBuckets"), e.getMessage)
    // same parameters resume fine
    new StreamingDedup(spark, dir, "doc_id", "text", nBuckets = 32)
      .admit(Seq((2L, "other text entirely")).toDF("doc_id", "text"), 0L)
      .count()
  }

  test("admitting against an unseeded (or wrong) state dir refuses loudly") {
    import graft.streaming.StreamingDedup
    val sd = new StreamingDedup(spark, tmp("sd_unseeded"), "doc_id", "text")
    // no seed() ever ran here: a missing _params marker must refuse
    // rather than silently dedup against an empty state
    val e = intercept[IllegalStateException](
      sd.admit(Seq((1L, "x")).toDF("doc_id", "text"), 0L))
    assert(e.getMessage.contains("_params"), e.getMessage)
  }

  test("an interrupted snapshot replace fails reads loudly, not silently empty") {
    val dir = tmp("bs_trash")
    val st = new BatchedState(spark, dir)
    st.seed(Seq(1L).toDF("id"))
    st.append(Seq(10L).toDF("id"), 0L)
    st.compact()
    // simulate a crash between rename-aside and rename-in: the snapshot
    // is in the hidden trash dir, nothing visible remains
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/snap=0"),
      new org.apache.hadoop.fs.Path(s"$dir/.trash-snap-0")))
    val e = intercept[IllegalStateException](st.read())
    assert(e.getMessage.contains("interrupted compaction"), e.getMessage)
    // ...even when later deltas survive (they do not cover the snapshot)
    st.append(Seq(20L).toDF("id"), 1L)
    intercept[IllegalStateException](st.read())
    // operator recovery: rename the trash back -> reads work again
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/.trash-snap-0"),
      new org.apache.hadoop.fs.Path(s"$dir/snap=0")))
    assert(rows(st) === Set((1L, -1L), (10L, 0L), (20L, 1L)))
  }

  test("a stale OLDER snapshot left visible by a crashed replace fails loudly") {
    // the two-crash window: a prior compact crashed after rename-in but
    // before deleting older snapshots (two snapshots visible); a later
    // eviction-rewrite then crashed between rename-aside and rename-in,
    // leaving the stale older snap=<A> as the only VISIBLE snapshot.
    // read() must refuse — serving snap=<A> would silently admit the
    // compacted corpus's duplicates as unique.
    val dir = tmp("bs_stale_snap")
    val st = new BatchedState(spark, dir)
    st.seed(Seq(1L).toDF("id"))
    st.append(Seq(10L).toDF("id"), 0L)
    st.compact(upTo = 0L) // snap=0
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // simulate: snapshot 1 (which superseded snap=0) renamed aside and
    // never renamed back — a data-bearing .trash-snap-1 above snap=0
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$dir/snap=0"), fs,
      new org.apache.hadoop.fs.Path(s"$dir/.trash-snap-1"), false, conf)
    val e = intercept[IllegalStateException](st.read())
    assert(e.getMessage.contains("interrupted compaction"), e.getMessage)
    // recovery: rename the trash back to its snapshot bound
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/.trash-snap-1"),
      new org.apache.hadoop.fs.Path(s"$dir/snap=1")))
    st.read().count() // reads work again (snap=1 is now the newest)
  }

  test("compact GCs staged/trash orphans from crashes at older bounds") {
    val dir = tmp("bs_gc")
    val st = new BatchedState(spark, dir)
    st.seed(Seq(1L).toDF("id"))
    st.append(Seq(10L).toDF("id"), 0L)
    st.compact(upTo = 0L) // snap=0
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // a .staged-snap-0 orphaned by a crash before rename-in: later
    // compacts land at newer bounds and would never overwrite it
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$dir/snap=0"), fs,
      new org.apache.hadoop.fs.Path(s"$dir/.staged-snap-0"), false, conf)
    // an orphaned staged dir at/below the visible bound must not trip
    // the loud read check (the visible snapshot covers it)
    st.read().count()
    st.append(Seq(20L).toDF("id"), 1L)
    st.compact() // lands snap=1 -> sweeps the bound-0 orphan
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.staged-snap-0")),
      "stale staged snapshot leaked past a newer-bound compact")
    assert(rows(st) === Set((1L, -1L), (10L, 0L), (20L, 1L)))
  }

  private def forgeLease(dir: String, owner: String, ts: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_lease"), true)
    try out.write(s"owner=$owner\nts=$ts\n".getBytes("UTF-8"))
    finally out.close()
  }

  test("writer lease: a live foreign lease refuses seed/append/compact/reset") {
    val dir = tmp("bs_lease")
    val st = new BatchedState(spark, dir)
    st.seed(Seq(1L).toDF("id"))
    st.append(Seq(10L).toDF("id"), 0L)
    // another process stamps the lease with a fresh heartbeat
    forgeLease(dir, owner = "pid99999-other", ts = System.currentTimeMillis())
    for (op <- Seq[() => Unit](
        () => st.append(Seq(20L).toDF("id"), 1L),
        () => st.seed(Seq(2L).toDF("id")),
        () => st.compact(),
        () => st.reset())) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("another live process"), e.getMessage)
    }
    // the refused appends left state untouched; reads never need the lease
    assert(rows(st) === Set((1L, -1L), (10L, 0L)))
  }

  test("writer lease: a stale foreign lease is taken over; release hands off") {
    val dir = tmp("bs_lease_stale")
    val st = new BatchedState(spark, dir, leaseTimeoutMs = 50L)
    st.seed(Seq(1L).toDF("id"))
    // crashed writer: heartbeat far older than the timeout
    forgeLease(dir, owner = "pid99999-dead",
      ts = System.currentTimeMillis() - 10000L)
    st.append(Seq(10L).toDF("id"), 0L) // takeover, no refusal
    assert(rows(st) === Set((1L, -1L), (10L, 0L)))
    // the lease is now ours: an immediate mutation needs no wait
    st.compact()
    // releaseLease removes OUR lease (a successor need not wait out the
    // heartbeat), but never someone else's
    st.releaseLease()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_lease")))
    forgeLease(dir, owner = "pid99999-other", ts = System.currentTimeMillis())
    st.releaseLease()
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_lease")))
  }

  test("stray non-numeric dirs: state names refuse loudly, hidden names are ignored") {
    val dir = tmp("bs_stray")
    val st = new BatchedState(spark, dir)
    st.seed(Seq(1L).toDF("id"))
    st.append(Seq(10L).toDF("id"), 0L)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // a manual-recovery artifact with a hidden prefix: reads/compacts
    // must neither crash on it nor GC it
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$dir/batch=0"), fs,
      new org.apache.hadoop.fs.Path(s"$dir/.trash-snap-old"), false, conf)
    assert(rows(st) === Set((1L, -1L), (10L, 0L)))
    st.compact()
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.trash-snap-old")),
      "compact GC'd a dir it does not understand")
    // a non-numeric batch= sibling LOOKS like state: refuse, name it
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$dir/snap=0"), fs,
      new org.apache.hadoop.fs.Path(s"$dir/batch=backup"), false, conf)
    val e = intercept[IllegalStateException](st.read())
    assert(e.getMessage.contains("batch=backup"), e.getMessage)
  }

  test("a restart that rewinds batch ids (fresh checkpoint, old state) refuses") {
    import graft.streaming.StreamingDedup
    val dir = tmp("sd_rewind")
    val sd = new StreamingDedup(spark, dir, "doc_id", "text")
    sd.seed(Seq((1L, "reference doc about checkpoint state agreement"))
      .toDF("doc_id", "text"))
    sd.admit(Seq((100L, "batch zero doc")).toDF("doc_id", "text"), 0L)
    sd.admit(Seq((101L, "batch one doc")).toDF("doc_id", "text"), 1L)
    // a fresh checkpointDir over the same stateDir restarts ids at 0:
    // admit would read state before=0 (hiding batches 0-1) while their
    // stale deltas resurface later — must refuse loudly instead
    val restarted = new StreamingDedup(spark, dir, "doc_id", "text")
    val e = intercept[IllegalStateException](
      restarted.admit(Seq((200L, "x")).toDF("doc_id", "text"), 0L))
    assert(e.getMessage.contains("below the state head"), e.getMessage)
    // a replay of the current head — and the next id — both resume fine
    new StreamingDedup(spark, dir, "doc_id", "text")
      .admit(Seq((101L, "batch one doc")).toDF("doc_id", "text"), 1L).count()
    new StreamingDedup(spark, dir, "doc_id", "text")
      .admit(Seq((102L, "batch two doc")).toDF("doc_id", "text"), 2L).count()
  }

  test("idle stream: file-less deltas neither trigger a refold nor accumulate") {
    // partitioned like every twin's state: a zero-row partitionBy write
    // produces a FILE-LESS delta dir (only _SUCCESS)
    val dir = tmp("bs_idle")
    val st = new BatchedState(spark, dir, Seq("pc"))
    st.seed(Seq((1L, 0)).toDF("id", "pc"))
    st.append(Seq((10L, 0)).toDF("id", "pc"), 0L)
    st.compact()
    assert(st.snapshotId === Some(0L))
    val snapPath = new java.io.File(s"$dir/snap=0")
    val before = snapPath.lastModified()
    Thread.sleep(1100)
    st.append(Seq.empty[(Long, Int)].toDF("id", "pc"), 1L)
    st.append(Seq.empty[(Long, Int)].toDF("id", "pc"), 2L)
    st.compact()
    // no refold: the snapshot dir was not rewritten; empty dirs are GC'd
    assert(st.snapshotId === Some(0L), "bound moved onto a file-less delta")
    assert(snapPath.lastModified() === before, "idle compact rewrote the snapshot")
    assert(st.deltaIds.forall(_ > 0L))
    assert(st.read().select("id", "batch").as[(Long, Long)].collect().toSet ===
      Set((1L, -1L), (10L, 0L)))
  }

  test("StreamingDecontamination: gate against the standing set, additions accumulate") {
    import graft.streaming.StreamingDecontamination
    val sdc = new StreamingDecontamination(spark, tmp("sdc"), "doc_id", "text")
    val bench0 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val bench1 = Seq((2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    sdc.seed(bench0, "text")
    def verdicts(df: org.apache.spark.sql.DataFrame, id: Long) =
      sdc.admit(df, id).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toMap
    val batch = Seq(
      // quotes the seed benchmark verbatim inside a longer doc
      (10L, "prefix words here alpha beta gamma delta epsilon zeta eta theta suffix"),
      // quotes the NOT-YET-ADDED release
      (11L, "prefix words here one two three four five six seven eight suffix"),
      (12L, "an entirely clean document with enough words to shingle fully"))
      .toDF("doc_id", "text")
    val v0 = verdicts(batch, 0L)
    assert(v0(10L)._3 && !v0(11L)._3 && !v0(12L)._3, s"$v0")
    assert(v0(10L)._1 === 5L && v0(10L)._2 === 1L) // 12 words -> 5 grams, 1 hit
    // the release lands at id 1; later admissions flag its quotes too
    sdc.addBenchmark(bench1, "text", 1L)
    sdc.compact(upTo = 1L) // the fold must preserve the union
    val v2 = verdicts(batch, 2L)
    assert(v2(10L)._3 && v2(11L)._3 && !v2(12L)._3, s"$v2")
    // admit never wrote: re-admitting the same docs at a later id is
    // identical (decontamination does not learn from the corpus)
    assert(verdicts(batch, 3L) === v2)
  }

  test("a re-arrived doc id yields ONE pair per neighbor, not one per version") {
    import graft.streaming.StreamingDedup
    val sd = new StreamingDedup(spark, tmp("sd_rearrive"), "doc_id", "text")
    sd.seed(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val text = "the same document body arriving again in a later micro batch"
    sd.admit(Seq((7L, text)).toDF("doc_id", "text"), 0L)
    // id 7 re-arrives: state now holds TWO rows for id 7 (batch 0 + 1);
    // the self-pair is suppressed
    assert(sd.admit(Seq((7L, text)).toDF("doc_id", "text"), 1L).count() === 0)
    // a near-dup of 7 must emit exactly ONE (7, 900) pair
    val pairs = sd.admit(Seq((900L, text)).toDF("doc_id", "text"), 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((7L, 900L)),
      s"duplicate pairs from the re-arrived id's state versions: ${pairs.toSeq}")
  }

  test("StreamingDedup: compaction mid-stream preserves cross-batch pairs") {
    import graft.streaming.StreamingDedup
    val sd = new StreamingDedup(spark, tmp("sd_compact"), "doc_id", "text")
    sd.seed(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"))
    val b0 = sd.admit(Seq(
      (101L, "novel batch zero document about minhash banding and buckets"))
      .toDF("doc_id", "text"), 0L)
    assert(b0.count() === 0)
    sd.compact() // fold seed + batch 0 into one snapshot
    val b1 = sd.admit(Seq(
      (201L, "the quick brown fox jumps over the lazy dog"), // dup of seed
      (202L, "novel batch zero document about minhash banding and buckets"))
      .toDF("doc_id", "text"), 1L)
    val pairs = b1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 201L), (101L, 202L)),
      s"post-compaction pairs wrong: $pairs")
  }

  test("embedding admission prunes the keys state by band buckets (bb=)") {
    import graft.operators.Similarity
    import graft.streaming.StreamingEmbeddingDedup
    val dir = tmp("sed_plan")
    def unit(axis: Int): Seq[Double] =
      (0 until 8).map(i => if (i == axis) 1.0 else 0.0)
    val sed = new StreamingEmbeddingDedup(spark, dir, "vec_id", "embedding",
      dims = 8, nBits = 64, bandBits = 8)
    sed.seed((0 until 8).map(a => (a.toLong, unit(a)))
      .toDF("vec_id", "embedding"))
    // the exploded layout: one row per (id, band, key), x(nBits/bandBits)
    // rows on disk — the deliberate disk-for-pruning trade
    val keys = new BatchedState(spark, s"$dir/keys", Seq("bb"))
    assert(keys.read().count() === 8L * 8L, "keys not exploded per band")
    // a batch's bucket-set filter reaches the file scan as a partition
    // filter: non-matching bb= directories are never read
    val pruned = keys.read().where(col("bb").isin(Seq(1, 2).map(Int.box): _*))
    val scanPlan = pruned.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters") && scanPlan.contains("bb"),
      s"bb filter not pushed to the keys scan:\n$scanPlan")
    // and the band join keeps the batch side broadcast: state never shuffled
    val kNew = Similarity.prepEmbedding(
        Seq((101L, unit(3))).toDF("vec_id", "embedding"),
        8, 64, 8, "vec_id", "embedding")._2
      .select(col("id"), posexplode(col("ks")).as(Seq("band", "key")))
    val cand = Similarity.bandCandidatesEmbeddingExploded(
      pruned, broadcast(kNew))
    val joinPlan = cand.queryExecution.executedPlan.toString
    assert(joinPlan.contains("BroadcastHashJoin"),
      s"band join not broadcast:\n$joinPlan")
    assert(!joinPlan.contains("SortMergeJoin"), s"state side shuffled:\n$joinPlan")
  }

  test("StreamingParagraphDedup: standing paragraph filter across batches") {
    import graft.streaming.StreamingParagraphDedup
    val sd = new StreamingParagraphDedup(spark, tmp("spd"), "doc_id", "text")
    sd.seed(Seq((1L, "shared header\nseed body one")).toDF("doc_id", "text"))
    val b0 = sd.admit(Seq(
        (100L, "shared header\nfresh paragraph alpha"),
        (101L, "fresh paragraph alpha\nfresh paragraph beta"))
        .toDF("doc_id", "text"), 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    // header seen (seed); alpha's first occurrence wins for doc 100, so
    // doc 101 keeps only beta
    assert(b0.toSeq === Seq(
      (100L, 1L, "fresh paragraph alpha"),
      (101L, 1L, "fresh paragraph beta")))
    // batch 1: every paragraph already seen (seed + batch 0) -> no rows
    assert(sd.admit(Seq((200L, "fresh paragraph beta\nshared header"))
      .toDF("doc_id", "text"), 1L).count() === 0)
    sd.compact()
    // post-compaction the folded state still filters; new text passes
    val b2 = sd.admit(Seq((300L, "shared header\nbrand new gamma"))
      .toDF("doc_id", "text"), 2L).collect()
    assert(b2.map(r => (r.getLong(0), r.getString(2))).toSeq ===
      Seq((300L, "brand new gamma")))
  }

  test("semantic admission prunes the vectors state by cell partitions") {
    import graft.streaming.StreamingSemanticDedup
    val dir = tmp("ssd_plan")
    def unit(axis: Int): Seq[Double] =
      (0 until 8).map(i => if (i == axis) 1.0 else 0.0)
    val ssd = new StreamingSemanticDedup(spark, dir, "vec_id", "embedding",
      nCells = 4)
    ssd.seed((0 until 8).map(a => (a.toLong, unit(a % 4)))
      .toDF("vec_id", "embedding"))
    val vecs = new BatchedState(spark, s"$dir/vectors", Seq("cell"))
    // the batch's cell-set filter reaches the file scan as a partition
    // filter — non-matching cell= directories are never read
    val pruned = vecs.read().where(col("cell").isin(Seq(0, 1).map(Int.box): _*))
    val scanPlan = pruned.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters") && scanPlan.contains("cell"),
      s"cell filter not pushed to the vectors scan:\n$scanPlan")
    // and the cell join keeps the (small) fresh side broadcast — the
    // admit shape: state never shuffled
    val fresh = broadcast(Seq((0, 900L), (1, 901L)).toDF("cell", "fresh_id"))
    val joinPlan = pruned.join(fresh, "cell")
      .queryExecution.executedPlan.toString
    assert(joinPlan.contains("BroadcastHashJoin"),
      s"cell join not broadcast:\n$joinPlan")
    assert(!joinPlan.contains("SortMergeJoin"), s"state side shuffled:\n$joinPlan")
  }

  test("StreamingDedup admission never shuffles state: broadcast joins + pruned scans") {
    import graft.operators.Dedup
    val dir = tmp("sd_plan")
    val sd = new graft.streaming.StreamingDedup(spark, dir, "doc_id", "text")
    sd.seed((1L to 50L).map(i => (i, s"seed document number $i about topic $i"))
      .toDF("doc_id", "text"))
    val st = new BatchedState(spark, s"$dir/banded", Seq("bb"))
    val (_, bNew) = Dedup.prepMinhash(
      Seq((101L, "seed document number 7 about topic 7")).toDF("doc_id", "text"),
      "doc_id", "text", 3, 8, 4)
    val cand = Dedup.bandCandidates(
      st.read().where(col("bb").isin(0 to 31 map Int.box: _*)),
      broadcast(bNew))
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"band join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"state side shuffled:\n$plan")
  }

  test("StreamingDedup refuses a pre-fp64 (string-layout) state dir loudly") {
    import graft.streaming.StreamingDedup
    val dir = tmp("sd_oldlayout")
    val sd = new StreamingDedup(spark, dir, "doc_id", "text")
    sd.seed(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"))
    // simulate an r17-era dir: same geometry, but the _params marker
    // predates the `shingles` layout key (string shingle state)
    BatchedState.writeParams(spark, dir, Map("n" -> "3", "bands" -> "8",
      "rows" -> "4", "nBuckets" -> "32"))
    val fresh = new StreamingDedup(spark, dir, "doc_id", "text")
    val e = intercept[IllegalArgumentException](fresh.admit(
      Seq((2L, "another document")).toDF("doc_id", "text"), 0L))
    // the refusal must name the drifted parameter, not surface as an
    // opaque parquet schema conflict mid-append
    assert(e.getMessage.contains("different parameters") &&
      e.getMessage.contains("shingles"), e.getMessage)
  }

  test("StreamingPhashDedup refuses a pre-layout-key state dir loudly") {
    import graft.streaming.StreamingPhashDedup
    val dir = tmp("spd_oldlayout")
    val sd = new StreamingPhashDedup(spark, dir, "asset_id", "fp")
    sd.seed(Seq((1L, 0x1234L)).toDF("asset_id", "fp"))
    // simulate a pre-r19 dir: same geometry, marker predates `layout`
    BatchedState.writeParams(spark, dir, Map("maxHamming" -> "3",
      "wideRecall" -> "false", "nBuckets" -> "32", "collapseBatch" -> "true"))
    val fresh = new StreamingPhashDedup(spark, dir, "asset_id", "fp")
    val e = intercept[IllegalArgumentException](fresh.admit(
      Seq((2L, 0x1234L)).toDF("asset_id", "fp"), 0L))
    assert(e.getMessage.contains("different parameters") &&
      e.getMessage.contains("layout"), e.getMessage)
  }

  test("StreamingEmbeddingDedup admits the shipped pre-keyWidth layout " +
      "as int64; a foreign keyWidth refuses") {
    import graft.streaming.StreamingEmbeddingDedup
    def unit(axis: Int): Seq[Double] =
      (0 until 8).map(i => if (i == axis) 1.0 else 0.0)
    val seedDf = (0 until 8).map(a => (a.toLong, unit(a)))
      .toDF("vec_id", "embedding")
    val batch = Seq((101L, unit(3)), (102L, unit(5))).toDF("vec_id", "embedding")
    def op(dir: String) = new StreamingEmbeddingDedup(spark, dir, "vec_id",
      "embedding", dims = 8, nBits = 64, bandBits = 8, threshold = 0.9)
    def seeded(prefix: String): String = {
      val dir = tmp(prefix); op(dir).seed(seedDf); dir
    }
    def pairs(dir: String): Set[(Long, Long)] = op(dir).admit(batch, 0L)
      .select("ref_id", "new_id").as[(Long, Long)].collect().toSet
    val expected = pairs(seeded("sed_kw_fresh"))
    assert(expected === Set((3L, 101L), (5L, 102L)))
    // a dir seeded before the key existed: same rows, marker without it
    val legacy = seeded("sed_kw_legacy")
    val stored = BatchedState.readParams(spark, legacy)
    assert(stored.get("keyWidth") === Some("int64"), "seed must write keyWidth")
    BatchedState.writeParams(spark, legacy, stored - "keyWidth")
    assert(pairs(legacy) === expected)
    // any other stored width is real drift
    val foreign = seeded("sed_kw_int32")
    BatchedState.writeParams(spark, foreign, stored + ("keyWidth" -> "int32"))
    val e = intercept[IllegalStateException](pairs(foreign))
    assert(e.getMessage.contains("different parameters") &&
      e.getMessage.contains("keyWidth: stored=int32"), e.getMessage)
  }

  test("StreamingSubstringDedup: seed stamps the pos layout key, admission " +
      "adopts a stored width without sniffing, a foreign width refuses") {
    import graft.streaming.StreamingSubstringDedup
    import org.apache.spark.sql.types.LongType
    val doc = (1L, ("alpha beta gamma delta " * 5) + "epsilon zeta eta theta")
    // fresh dense seed stamps pos=int32
    val dir = tmp("ssd_poskey")
    val sd = new StreamingSubstringDedup(spark, dir, "doc_id", "text",
      k = 10, w = 1)
    sd.seed(Seq(doc).toDF("doc_id", "text"))
    assert(BatchedState.readParams(spark, dir).get("pos") === Some("int32"))
    // a stored int64 key on a dense dir is AUTHORITATIVE: admission lays
    // int64 parquet with no schema sniff (the key is the guard now, the
    // sniff only the pre-key migration path)
    val dir64 = tmp("ssd_poskey64")
    val st = new BatchedState(spark, s"$dir64/grams", Seq("gb"))
    st.seed(new BatchedState(spark, s"$dir/grams", Seq("gb")).read()
      .drop("batch").withColumn("pos", col("pos").cast("long")))
    new BatchedState(spark, s"$dir64/texts", Seq("ib"))
      .seed(Seq(doc).toDF("id", "text")
        .withColumn("ib", pmod(xxhash64(col("id")), lit(32)).cast("int")))
    BatchedState.writeParams(spark, dir64,
      Map("k" -> "10", "w" -> "1", "nBuckets" -> "32", "pos" -> "int64"))
    val sd64 = new StreamingSubstringDedup(spark, dir64, "doc_id", "text",
      k = 10, w = 1)
    val pairs = sd64.admit(Seq((2L, doc._2)).toDF("doc_id", "text"), 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), s"shared-window pair missing: $pairs")
    assert(new BatchedState(spark, s"$dir64/grams", Seq("gb")).read()
      .schema("pos").dataType === LongType,
      "append did not honor the stored int64 pos key")
    // a width neither int32 nor int64 is an aliased/foreign dir: refuse
    val dirBad = tmp("ssd_posbad")
    val sdBadSeed = new StreamingSubstringDedup(spark, dirBad, "doc_id",
      "text", k = 10, w = 1)
    sdBadSeed.seed(Seq(doc).toDF("doc_id", "text"))
    BatchedState.writeParams(spark, dirBad,
      Map("k" -> "10", "w" -> "1", "nBuckets" -> "32", "pos" -> "int16"))
    val sdBad = new StreamingSubstringDedup(spark, dirBad, "doc_id", "text",
      k = 10, w = 1)
    val e = intercept[IllegalStateException](sdBad.admit(
      Seq((2L, doc._2)).toDF("doc_id", "text"), 0L))
    assert(e.getMessage.contains("different parameters") &&
      e.getMessage.contains("pos"), e.getMessage)
    // winnowed dirs are uniformly int64: a stored int32 refuses too
    val dirW = tmp("ssd_poswin")
    val sdWSeed = new StreamingSubstringDedup(spark, dirW, "doc_id", "text",
      k = 10, w = 3)
    sdWSeed.seed(Seq(doc).toDF("doc_id", "text"))
    assert(BatchedState.readParams(spark, dirW).get("pos") === Some("int64"))
    BatchedState.writeParams(spark, dirW,
      Map("k" -> "10", "w" -> "3", "nBuckets" -> "32", "pos" -> "int32"))
    val sdW = new StreamingSubstringDedup(spark, dirW, "doc_id", "text",
      k = 10, w = 3)
    val eW = intercept[IllegalStateException](sdW.admit(
      Seq((2L, doc._2)).toDF("doc_id", "text"), 0L))
    assert(eW.getMessage.contains("different parameters") &&
      eW.getMessage.contains("winnowed"), eW.getMessage)
  }

  test("StreamingSubstringDedup dense append matches the dir's pos width " +
      "(an r16-era int64 dense dir keeps working)") {
    import graft.streaming.StreamingSubstringDedup
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val doc = (1L, ("alpha beta gamma delta " * 5) + "epsilon zeta eta theta")
    // simulate the r16 kernel interlude: a DENSE dir whose grams state
    // stores int64 pos (what that version wrote), marker included
    val dir = tmp("ssd_pos64")
    val probeDir = tmp("ssd_probe")
    val probe = new StreamingSubstringDedup(spark, probeDir,
      "doc_id", "text", k = 10, w = 1)
    probe.seed(Seq(doc).toDF("doc_id", "text"))
    val canonical = new BatchedState(spark, s"$probeDir/grams", Seq("gb"))
      .read()
    assert(canonical.schema("pos").dataType === IntegerType,
      "fresh dense dirs must keep the canonical int32 layout")
    val old = new BatchedState(spark, s"$dir/grams", Seq("gb"))
    old.seed(canonical.drop("batch").withColumn("pos", col("pos").cast("long")))
    new BatchedState(spark, s"$dir/texts", Seq("ib"))
      .seed(Seq(doc).toDF("id", "text")
        .withColumn("ib", pmod(xxhash64(col("id")), lit(32)).cast("int")))
    BatchedState.writeParams(spark, dir,
      Map("k" -> "10", "w" -> "1", "nBuckets" -> "32"))
    // an admit must sniff the dir's int64 width and lay matching parquet
    val sd = new StreamingSubstringDedup(spark, dir, "doc_id", "text",
      k = 10, w = 1)
    val pairs0 = sd.admit(Seq((2L, doc._2)).toDF("doc_id", "text"), 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs0 === Set((1L, 2L)), s"shared-window pair missing: $pairs0")
    // the NEXT admit reads seed + batch-0 files together — the schema
    // conflict the width sniff exists to prevent would surface here
    val pairs1 = sd.admit(Seq((3L, doc._2)).toDF("doc_id", "text"), 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs1 === Set((1L, 3L), (2L, 3L)), s"pairs drifted: $pairs1")
    val stored = new BatchedState(spark, s"$dir/grams", Seq("gb")).read()
    assert(stored.schema("pos").dataType === LongType,
      "append did not match the dir's int64 pos width")
  }
}
