package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._

/** The standing-operator contract, table-driven over all 16 families:
  * a dir seeded under one different parameter refuses the first
  * admission, a batch id below the state head refuses, `attach` with
  * auto-compaction over a stream writes exactly the per-batch output an
  * `admit` loop on a fresh state returns, and `replay` returns what the
  * admit loop with a compaction after batch 0 returns.
  */
class StandingOperatorSpec extends AnyFunSuite with LocalSpark {
  import StandingOperatorSpec._


  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def canon(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).toSeq.sorted

  families.foreach { f =>
    test(s"${f.name}: a dir seeded with a different parameter refuses " +
        "the first admission") {
      val dir = tmp(s"so_drift_${f.name}")
      f.make(spark, dir, true).seed(f.df(spark, f.seedRows))
      val e = intercept[Exception](
        f.make(spark, dir, false).admit(f.df(spark, f.batches.head), 0L))
      assert(e.getMessage.contains("different parameters"), e.getMessage)
    }

    test(s"${f.name}: a batch id below the state head refuses") {
      val dir = tmp(s"so_head_${f.name}")
      val op = f.make(spark, dir, false)
      op.seed(f.df(spark, f.seedRows))
      op.write(f.df(spark, f.batches(0)), 0L)
      op.write(f.df(spark, f.batches(1)), 1L)
      // a fresh checkpoint restarting ids at 0 over the same state dir
      val e = intercept[IllegalStateException](
        f.make(spark, dir, false).admit(f.df(spark, f.batches(2)), 0L))
      assert(e.getMessage.contains("below the state head"), e.getMessage)
    }

    test(s"${f.name}: attach with auto-compaction writes the admit loop's " +
        "per-batch output") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val loop = f.make(spark, tmp(s"so_loop_${f.name}"), false)
      loop.seed(f.df(spark, f.seedRows))
      val expected = f.batches.indices.map(k =>
        loop.admit(f.df(spark, f.batches(k)), k.toLong))

      val out = tmp(s"so_out_${f.name}")
      val op = f.make(spark, tmp(s"so_attach_${f.name}"), false)
      op.seed(f.df(spark, f.seedRows))
      val mem = MemoryStream[String]
      val q = op.attach(
        mem.toDF().select(from_json(col("value"), f.schemaOf).as("r"))
          .select("r.*"),
        out, tmp(s"so_ck_${f.name}")).start()
      try f.batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      assert(expected.exists(_.count() > 0), "every batch output is empty")
      expected.zipWithIndex.foreach { case (exp, k) =>
        val got = spark.read.schema(exp.schema).parquet(s"$out/batch=$k")
        assert(canon(got.collect()) === canon(exp.collect()),
          s"batch $k output differs between attach and admit")
      }
    }
  }

  families.filter(_.standing).foreach { f =>
    test(s"${f.name}: replay equals the admit loop compacting after batch 0") {
      val loop = f.make(spark, tmp(s"so_rloop_${f.name}"), false)
      loop.seed(f.df(spark, f.seedRows))
      val expected = f.batches.indices.map { k =>
        val out = loop.admit(f.df(spark, f.batches(k)), k.toLong)
          .withColumn("batch", lit(k))
        if (k == 0) loop.op.get match {
          case ev: EvictingOperator => ev.compact(upTo = 0L)
          case kf: KeyedFold => kf.compact(upTo = 0L)
          case other => fail(s"no compaction for ${other.getClass}")
        }
        out
      }.reduce(_ unionByName _)

      val replayed = f.make(spark, tmp(s"so_replay_${f.name}"), false)
      replayed.seed(f.df(spark, f.seedRows))
      val got = replayed.op.get.replay(f.batches.map(f.df(spark, _)))
      assert(got.count() > 0, "every batch output is empty")
      assert(canon(got.collect()) === canon(expected.collect()))
    }
  }
}

object StandingOperatorSpec {
  /** One family under a uniform handle. `write` is the call that appends
    * state at a batch id (`admit` for every family except the
    * decontamination gate, whose state grows only by `addBenchmark`).
    */
  final case class Handle(seed: DataFrame => Unit,
      admit: (DataFrame, Long) => DataFrame,
      attach: (DataFrame, String, String) => DataStreamWriter[Row],
      write: (DataFrame, Long) => Unit,
      op: Option[StandingOperator] = None)

  /** `make(spark, dir, drifted)`: `drifted` changes ONE state parameter.
    * Inputs are JSON lines of `schema`, so the same rows feed a batch
    * frame and a `MemoryStream`.
    */
  final case class Family(name: String, schema: String,
      seedRows: Seq[String], batches: Seq[Seq[String]],
      make: (SparkSession, String, Boolean) => Handle,
      standing: Boolean = true) {
    def schemaOf: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType.fromDDL(schema)
    def df(spark: SparkSession, rows: Seq[String]): DataFrame = {
      import spark.implicits._
      spark.read.schema(schemaOf).json(rows.toDS())
    }
  }

  private def admitting(op: StandingOperator, seed: DataFrame => Unit)
      : Handle =
    Handle(seed, op.admit, op.attach(_, _, _, 1),
      (df, id) => { op.admit(df, id); () }, Some(op))

  private def doc(id: Long, text: String) =
    s"""{"doc_id":$id,"text":"$text"}"""
  private def vec(id: Long, v: Double*) =
    s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
  private def kv(k: String, v: Long) = s"""{"k":"$k","v":$v}"""

  private val fox = "the quick brown fox jumps over the lazy dog"
  private val lsh = "novel doc about lsh banding written in batch zero"
  private val docBatches = Seq(
    Seq(doc(101, lsh)),
    Seq(doc(201, fox), doc(202, lsh)),
    Seq(doc(301, lsh), doc(302, "an unrelated third batch text of its own")))
  private val long1 =
    "every benchmark question here is quoted verbatim in some crawled page"
  private val long2 =
    "a second passage with plenty of distinct words to form eight grams"
  private val gateDocs = Seq(
    Seq(10L -> s"prefix words then $long1", 11L -> long2),
    Seq(20L -> "nothing shared with any benchmark text in this one doc"),
    Seq(30L -> s"$long2 trailing", 31L -> long1))
  private val gateBatches = gateDocs.map(_.map((doc _).tupled))
  // long enough, with stopwords, to pass the curation quality filter
  private val filler = "and the rest of this page is a plain story about " +
    "the weather in a small town and the people who live in it"
  private val vecBatches = Seq(
    Seq(vec(101, 1, 0, 0, 0), vec(102, 0, 0.9, 0.1, 0)),
    Seq(vec(201, 1, 0.05, 0, 0), vec(202, 0, 0, 1, 0)),
    Seq(vec(301, 0, 0, 0.95, 0.05), vec(302, 0, 0, 0, 1)))
  private val vecSeed = Seq(vec(1, 1, 0, 0, 0), vec(2, 0, 1, 0, 0),
    vec(3, 0, 0, 1, 0), vec(4, 0, 0, 0, 1))
  private val kvBatches = Seq(
    Seq(kv("a", 1), kv("a", 2), kv("b", 3)),
    Seq(kv("a", 2), kv("c", 5)),
    Seq(kv("b", 7), kv("c", 5), kv("d", 9)))

  val families: Seq[Family] = Seq(
    Family("StreamingDedup", "doc_id BIGINT, text STRING",
      Seq(doc(1, fox)), docBatches, (s, d, drift) => {
        val op = new StreamingDedup(s, d, "doc_id", "text",
          nBuckets = if (drift) 16 else 32)
        admitting(op, op.seed)
      }),
    Family("StreamingSemanticDedup", "vec_id BIGINT, embedding ARRAY<DOUBLE>",
      vecSeed, vecBatches, (s, d, drift) => {
        val op = new StreamingSemanticDedup(s, d, "vec_id", "embedding",
          nCells = if (drift) 3 else 2, threshold = 0.9)
        admitting(op, op.seed)
      }),
    Family("StreamingParagraphDedup", "doc_id BIGINT, text STRING",
      Seq(doc(1, "shared header\\nseed body one")),
      Seq(Seq(doc(100, "shared header\\nfresh paragraph alpha"),
          doc(101, "fresh paragraph alpha\\nfresh paragraph beta")),
        Seq(doc(200, "fresh paragraph beta\\nshared header")),
        Seq(doc(300, "shared header\\nbrand new gamma"))),
      (s, d, drift) => {
        val op = new StreamingParagraphDedup(s, d, "doc_id", "text",
          nBuckets = if (drift) 16 else 32)
        admitting(op, op.seed)
      }),
    Family("StreamingDecontamination", "doc_id BIGINT, text STRING",
      Seq(doc(1, long1)), gateBatches, (s, d, drift) => {
        val op = new StreamingDecontamination(s, d, "doc_id", "text",
          nBuckets = if (drift) 16 else 32)
        Handle(op.seed(_, "text"), op.admit, op.attach(_, _, _, 1),
          op.addBenchmark(_, "text", _), Some(op))
      }),
    Family("StreamingEmbeddingDedup", "vec_id BIGINT, embedding ARRAY<DOUBLE>",
      vecSeed, vecBatches, (s, d, drift) => {
        val op = new StreamingEmbeddingDedup(s, d, "vec_id", "embedding",
          dims = 4, nBits = if (drift) 32 else 64, bandBits = 8,
          threshold = 0.9)
        admitting(op, op.seed)
      }),
    Family("StreamingPhashDedup", "asset_id BIGINT, fp BIGINT",
      Seq("""{"asset_id":1,"fp":4660}""", """{"asset_id":2,"fp":65535}"""),
      Seq(Seq("""{"asset_id":101,"fp":4660}""", """{"asset_id":102,"fp":4661}"""),
        Seq("""{"asset_id":201,"fp":65534}"""),
        Seq("""{"asset_id":301,"fp":4660}""", """{"asset_id":302,"fp":4660}""")),
      (s, d, drift) => {
        val op = new StreamingPhashDedup(s, d, "asset_id", "fp",
          maxHamming = if (drift) 2 else 3)
        admitting(op, op.seed)
      }),
    Family("StreamingSubstringDedup", "doc_id BIGINT, text STRING",
      Seq(doc(1, fox)), docBatches, (s, d, drift) => {
        val op = new StreamingSubstringDedup(s, d, "doc_id", "text",
          k = if (drift) 12 else 10)
        admitting(op, op.seed)
      }),
    Family("StreamingUniqHll", "k STRING, v BIGINT", Seq(kv("a", 1)),
      kvBatches, (s, d, drift) => {
        val op = new StreamingUniqHll(s, d, "k", "v",
          nBuckets = if (drift) 16 else 64)
        admitting(op, op.seed)
      }),
    Family("StreamingUniqKmv", "k STRING, v BIGINT", Seq(kv("a", 1)),
      kvBatches, (s, d, drift) => {
        val op = new StreamingUniqKmv(s, d, "k", "v", k = if (drift) 32 else 64)
        admitting(op, op.seed)
      }),
    Family("StreamingQuantile", "k STRING, v BIGINT", Seq(kv("a", 1)),
      kvBatches, (s, d, drift) => {
        val op = new StreamingQuantile(s, d, "k", "v", Seq(("p50", 1, 2)),
          sigBits = if (drift) 6 else 8)
        admitting(op, op.seed)
      }),
    Family("StreamingReplacingMerge", "k BIGINT, ver BIGINT, v STRING",
      Seq("""{"k":1,"ver":1,"v":"a"}"""),
      Seq(Seq("""{"k":1,"ver":2,"v":"b"}""", """{"k":2,"ver":1,"v":"c"}"""),
        Seq("""{"k":1,"ver":1,"v":"stale"}"""),
        Seq("""{"k":2,"ver":5,"v":"d"}""", """{"k":3,"ver":1,"v":"e"}""")),
      (s, d, drift) => {
        val op = new StreamingReplacingMerge(s, d, "k", "ver", Seq("v"),
          nBuckets = if (drift) 16 else 64)
        admitting(op, op.seed)
      }),
    Family("StreamingSummingMerge", "k BIGINT, v BIGINT",
      Seq("""{"k":1,"v":10}"""),
      Seq(Seq("""{"k":1,"v":1}""", """{"k":2,"v":2}"""),
        Seq("""{"k":2,"v":3}"""),
        Seq("""{"k":1,"v":4}""", """{"k":3,"v":5}""")),
      (s, d, drift) => {
        val op = new StreamingSummingMerge(s, d, "k", Seq("v"),
          nBuckets = if (drift) 16 else 64)
        admitting(op, op.seed)
      }),
    Family("StreamingRetention", "user_id BIGINT, event_type STRING",
      Seq("""{"user_id":1,"event_type":"visit"}"""),
      Seq(Seq("""{"user_id":1,"event_type":"signup"}"""),
        Seq("""{"user_id":2,"event_type":"visit"}"""),
        Seq("""{"user_id":2,"event_type":"signup"}""",
          """{"user_id":3,"event_type":"visit"}""")),
      (s, d, drift) => {
        val op = new StreamingRetention(s, d, "user_id", Seq(
          "anchor" -> (col("event_type") === "signup"),
          "came_back" -> (col("event_type") === "visit")),
          nBuckets = if (drift) 16 else 64)
        admitting(op, op.seed)
      }),
    Family("StreamingWindowFunnel",
      "user_id BIGINT, ts TIMESTAMP, event_type STRING",
      Seq("""{"user_id":1,"ts":"2024-01-01T00:00:00","event_type":"a"}"""),
      Seq(Seq("""{"user_id":1,"ts":"2024-01-01T00:00:05","event_type":"b"}""",
          """{"user_id":2,"ts":"2024-01-01T00:00:06","event_type":"a"}"""),
        Seq("""{"user_id":2,"ts":"2024-01-01T00:00:09","event_type":"b"}"""),
        Seq("""{"user_id":1,"ts":"2024-01-01T00:00:08","event_type":"c"}""",
          """{"user_id":2,"ts":"2024-01-01T00:01:00","event_type":"c"}""")),
      (s, d, drift) => {
        val op = new StreamingWindowFunnel(s, d, "user_id", "ts",
          "event_type", Seq("a", "b", "c"), windowSec = if (drift) 5 else 10)
        admitting(op, op.seed)
      }),
    Family("StreamingVersionedCollapsing",
      "k BIGINT, sign INT, ver BIGINT, p STRING",
      Seq("""{"k":1,"sign":1,"ver":1,"p":"x"}"""),
      Seq(Seq("""{"k":1,"sign":-1,"ver":1,"p":"x"}""",
          """{"k":1,"sign":1,"ver":2,"p":"y"}"""),
        Seq("""{"k":2,"sign":1,"ver":1,"p":"z"}"""),
        Seq("""{"k":1,"sign":-1,"ver":1,"p":"x"}""",
          """{"k":2,"sign":-1,"ver":1,"p":"z"}""")),
      (s, d, drift) => {
        val op = new StreamingVersionedCollapsing(s, d, "k", "sign", "ver",
          Seq("p"), nBuckets = if (drift) 16 else 64)
        admitting(op, op.seed)
      }),
    // the curation composite gates through a decontamination state with
    // the default geometry; its drifted dir is seeded under n = 5
    Family("StreamingCuration", "doc_id BIGINT, text STRING, source STRING",
      Seq(doc(1, long1)), gateDocs.map(_.map { case (id, text) =>
        s"""{"doc_id":$id,"text":"$text $filler","source":"web$id"}"""
      }), (s, d, drift) => {
        val op = new StreamingCuration(s, d, "doc_id", "text", "source")
        val gate = new StreamingDecontamination(s, d, "doc_id", "text", n = 5)
        Handle(if (drift) gate.seed(_, "text") else op.seed(_, "text"),
          op.curate, op.attach, op.addBenchmark(_, "text", _))
      }, standing = false))
}
