package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SetJaccard, VecDot}
import graft.operators.{Dedup, Similarity}

/** Randomized parity for the fused codegen expressions vs their
  * definitional (compositional) forms — seeded, so deterministic. The
  * fused forms exist purely for scale (scan-local, single hash build,
  * referenced constant matrices); any value divergence is a correctness
  * bug that the per-corpus oracle might miss on tamer data.
  */
class FusedParitySpec extends AnyFunSuite with LocalSpark {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  private def randText(): String = {
    val alphabet = "abcdefg хщж 語字    \t\n.,!?ÉüÑ-"
    val n = rnd.nextInt(200)
    (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
  }

  test("SimHash64 fused == compositional on 300 random unicode/whitespace texts") {
    val df = Seq.fill(300)(randText()).toDF("text")
    val got = df.select(
      graft.functions.SimHash64.of(col("text")).as("f"),
      Dedup.simhash64(col("text")).as("c")).collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("SetJaccard fused == composition on 300 random overlapping arrays") {
    val pool = Vector.tabulate(30)(i => s"tok$i")
    def arr() = Seq.fill(rnd.nextInt(50))(pool(rnd.nextInt(pool.length)))
    val df = Seq.fill(300)((arr(), arr())).toDF("a", "b")
    val composed = {
      val inter = size(array_intersect(col("a"), col("b"))).cast("double")
      val uni = size(array_union(col("a"), col("b"))).cast("double")
      when(uni === 0, lit(0.0)).otherwise(inter / uni)
    }
    val got = df.select(SetJaccard.of(col("a"), col("b")).as("f"),
      composed.as("c")).collect()
    got.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("MinHashSig fused == explode form on 200 random shingle arrays") {
    val pool = Vector.tabulate(40)(i => s"sh gram $i")
    val rows = (0 until 200).map { i =>
      (i.toLong, (0 until (1 + rnd.nextInt(40))).map(_ => pool(rnd.nextInt(pool.length))).distinct)
    }
    val df = rows.toDF("doc_id", "sh")
    val fused = Dedup.minhashSignatureDF(df, "doc_id", "sh", 16)
    val comp = UnfusedForms.minhashSignatureExplodeDF(df, "doc_id", "sh", 16)
    assert(fused.except(comp).isEmpty && comp.except(fused).isEmpty)
  }

  test("RhpBandKeys fused == compositional across vector lengths 0..80") {
    // lengths cross the dims=64 boundary: both forms dot over min(|v|, dims)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(81))(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "v")
      .select(col("id"), col("v").cast(ArrayType(DoubleType)).as("v"))
    val fused = df.select(col("id"),
      graft.functions.RhpBandKeys.of(col("v"), 64, 24, 8).as("k"))
    val comp = df.select(col("id"),
      UnfusedForms.bandKeys(UnfusedForms.rhpSignature(col("v"), 64, 24), 24, 8).as("k"))
    assert(fused.except(comp).isEmpty && comp.except(fused).isEmpty)
  }

  test("CentroidProbes ranking == struct-sort ranking on random vectors") {
    val dims = 8
    val centroids = Array.tabulate(10, dims)((c, d) =>
      rnd.nextDouble() * 2 - 1)
    // include a zero-norm degenerate centroid: must never win
    (0 until dims).foreach(d => centroids(3)(d) = 0.0)
    val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(dims)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "v")
      .select(col("id"), col("v").cast(ArrayType(DoubleType)).as("v"))
    // compositional reference ranking (the pre-fusion struct-sort form)
    val structs = array(centroids.indices.map { c =>
      val cv = array(centroids(c).map(lit).toIndexedSeq: _*)
      val s = if (norms(c) == 0.0) lit(Double.NegativeInfinity)
              else VecDot.of(col("v"), cv) / lit(norms(c))
      struct(s.as("s"), lit(-c).as("negc"))
    }: _*)
    val comp = df.select(col("id"),
      transform(slice(reverse(array_sort(structs)), 1, 3), x => -x.getField("negc")).as("p"))
    val fused = df.select(col("id"),
      graft.functions.CentroidProbes.of(col("v"), centroids, norms, 3).as("p"))
    assert(fused.except(comp).isEmpty && comp.except(fused).isEmpty)
  }

  test("NgramRepFractions fused == sorted-run-length form on random and real docs") {
    import graft.operators.TextAnalysis
    // repetition-heavy randoms: duplicated spans force nonzero fractions
    val reps = Seq.fill(200) {
      val t = randText()
      val span = t.split(" ").take(3).mkString(" ")
      t + " " + span + " " + span + (if (rnd.nextBoolean()) " " + span else "")
    }
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("text")).as[String].collect().toSeq
    val edge = Seq("", "q", "a b", "w w w w", "\tx\ty\t", "a  b   a  b",
      // supplementary plane: Java length/compareTo count UTF-16 units —
      // the kernel must count codepoints and tie-break in codepoint order
      "😀😀 a 😀😀 a", "𝕊 x 𝕊 x", "😀  😀   😀")
    val df = (reps ++ docs ++ edge).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for ((tn, dn) <- Seq((2, 5), (2, 2), (3, 4))) {
      val fused = TextAnalysis.repetitionNgramStats(df, "id", "text", tn, dn)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val comp = UnfusedForms.repetitionNgramStatsCompositional(df, "id", "text", tn, dn)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(fused === comp, s"diverged at topN=$tn dupN=$dn")
    }
  }

  test("WordHits fused == replace-trick on random texts and real docs") {
    import graft.operators.TextAnalysis
    // random texts salted with actual stopwords/markers so hits exist
    val salted = Seq.fill(300) {
      val extra = Seq("the", "and", "der", "la", "est", "的", "a a a", "it")
      randText() + " " + extra(rnd.nextInt(extra.length)) + " " + randText()
    }
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("text")).as[String].collect().toSeq
    val df = (salted ++ docs).toDF("text")
    val got = df.select(
      TextAnalysis.stopwordHits(col("text")).as("f"),
      UnfusedForms.stopwordHitsCompositional(col("text")).as("c"),
      TextAnalysis.langId(col("text")).as("fl"),
      UnfusedForms.langIdCompositional(col("text")).as("cl")).collect()
    got.foreach { r =>
      assert(r.getLong(0) === r.getLong(1))
      assert(r.getString(2) === r.getString(3))
    }
  }
}
