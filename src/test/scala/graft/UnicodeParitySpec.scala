package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PortableCase
import graft.operators.{Dedup, TextAnalysis}

/** Non-ASCII parity for the canonicalization chain: the canonical form
  * (and everything keyed on it — fingerprints, shingles, simhash,
  * langId) must be BYTE-IDENTICAL between the Spark expressions and the
  * DuckDB oracle's recomputation. Java/ICU lowercasing applies the full
  * Unicode mapping (final sigma, dotted-İ decomposition) where utf8proc
  * applies the simple per-codepoint mapping; [[PortableCase]] normalizes
  * those two divergence classes, and this spec pins the result against
  * goldens computed with DuckDB 1.x (`regexp_replace(lower(trim(x)),
  * '\s+', ' ', 'g')` and its md5). NBSP (not \s in either engine), CJK,
  * fullwidth, ß and compatibility ligatures agree without help and are
  * pinned too.
  */
class UnicodeParitySpec extends AnyFunSuite with LocalSpark {

  // (input, DuckDB canonical form, DuckDB md5 of the canonical form)
  private val golden = Seq(
    ("ΣΟΦΟΣ ΣΟΦΙΑ", // ΣΟΦΟΣ ΣΟΦΙΑ
      "σοφοσ σοφια", // final sigma -> σ
      "967d7af44bb8ee44988d69d52c69b2c8"),
    ("İstanbul KIRMIZI", // dotted İ
      "istanbul kirmizi",
      "ee2bee76be09d299ab86046c79671ef2"),
    ("a b c", // NBSP is not \s: stays inside the token
      "a b c",
      "47a1e85be25349f370cb7fcf73dff159"),
    ("東京タワー ＡＢＣ", // CJK + fullwidth
      "東京タワー ａｂｃ",
      "fa7387d16d31b56f44fa090fd58f0d3c"),
    ("Straße GROSS", // ß is already lowercase, never ss
      "straße gross",
      "803387c52bb1ff87428bf5e1f6d70fe9"),
    ("ﬁre ﬂow", // compatibility ligatures survive (no NFKC)
      "ﬁre ﬂow",
      "e0f27f762a84860932ed8c23e274791d"),
    ("  MIXED  Σ İ  case  ", // standalone Σ (not final), İ token
      "mixed σ i case",
      "9912b3b898320d2aea2b7c2ca69e8b34"),
    ("\tΣΟΦΟΣ\n\nΣΟΦΙΑ\t",
      // trim strips only ' ' in BOTH engines; \t collapses to ' '
      " σοφοσ σοφια ",
      "d6386c6e61e9ca4204896e032fe46fd5"),
    // PRE-EXISTING final sigma / combining dot: the fold is applied on
    // BOTH sides (oracles fold too), so already-lowercase Greek text
    // canonicalizes identically — goldens from the folded DuckDB chain
    ("σοφός καλός",
      "σοφόσ καλόσ",
      "4ed05c0493e0a13b4437eba10a475b54"),
    ("i̇stanbul naïve", // literal i + U+0307 in the source text
      "istanbul naïve",
      "151337536046a5e42a5b5643c94aabb5"),
    ("Ἀθηναῖος καὶ Ὀδυσσεύς", // polytonic Greek, pre-lowercase ς twice
      "ἀθηναῖοσ καὶ ὀδυσσεύσ",
      "5588eb79a0ff852ab7ac0bbf4eaf99a2"))

  test("canonStr matches the DuckDB canonical form byte-for-byte") {
    import spark.implicits._
    val got = golden.map(_._1).toDF("text")
      .select(TextAnalysis.canonStr(col("text"))).as[String].collect().toSeq
    assert(got === golden.map(_._2))
  }

  test("fingerprint matches DuckDB md5 of the canonical form") {
    import spark.implicits._
    val got = golden.map(_._1).toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).as[String].collect().toSeq
    assert(got === golden.map(_._3))
  }

  test("JVM-kernel simpleLower agrees with canonStr on every case") {
    import spark.implicits._
    val viaColumn = golden.map(_._1).toDF("text")
      .select(TextAnalysis.canonStr(col("text"))).as[String].collect().toSeq
    val viaKernel = golden.map { case (in, _, _) =>
      PortableCase.simpleLower(in.trim).replaceAll("\\s+", " ") }
    // kernel path trims all \s (Java trim) vs column trim(' ') — compare
    // modulo the edge whitespace the collapse already normalized
    assert(viaKernel.map(_.trim) === viaColumn.map(_.trim))
  }

  test("JVM canonJvm == Spark canonStr on randomized Unicode (property sweep)") {
    import spark.implicits._
    // deterministic generator mixing ASCII, the divergence-prone ranges
    // (Greek, Turkish-dotted, fullwidth), combining marks and whitespace
    val rnd = new scala.util.Random(20260812L)
    val pools: Array[Array[Char]] = Array(
      ('a' to 'z').toArray ++ ('A' to 'Z') :+ ' ',
      "ΑΒΓΔΣΩαβγδσςĞğİıŞş".toCharArray,
      "ＡＢＣａｂｃ東京ﬁﬂß".toCharArray,
      "\t\n ̇ ".toCharArray)
    def randStr(): String = {
      val n = rnd.nextInt(40)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        val p = pools(rnd.nextInt(pools.length))
        sb += p(rnd.nextInt(p.length))
      }
      sb.toString
    }
    val samples = Seq.fill(2000)(randStr()).filter(_ != null)
    val viaSpark = samples.toDF("text")
      .select(TextAnalysis.canonStr(col("text"))).as[String].collect().toSeq
    val viaJvm = samples.map(PortableCase.canonJvm)
    samples.lazyZip(viaSpark).lazyZip(viaJvm).foreach { (in, s, j) =>
      assert(s === j,
        s"divergence on ${in.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("fused simhash/shingle/langId kernels agree with compositional forms") {
    import spark.implicits._
    val df = golden.map(_._1).toDF("text")
    val sim = df.select(
      graft.functions.SimHash64.of(col("text")).as("fused"),
      Dedup.simhash64(col("text")).as("comp")).collect()
    sim.foreach(r => assert(r.getLong(0) === r.getLong(1), "simhash diverged"))
    val lang = df.select(
      TextAnalysis.langId(col("text")).as("fused"),
      UnfusedForms.langIdCompositional(col("text")).as("comp")).collect()
    lang.foreach(r => assert(r.getString(0) === r.getString(1), "langId diverged"))
    val sh = df.select(
      graft.functions.WordShingles.of(col("text"), 1).as("fused"),
      array_distinct(TextAnalysis.canonToks(col("text"))).as("comp")).collect()
    sh.foreach { r =>
      assert(r.getSeq[String](0).toSet === r.getSeq[String](1).toSet,
        "shingles diverged")
    }
  }

  test("NFC normalization: composition cases, idempotence, SQL twin") {
    import spark.implicits._
    val nfc = (c: org.apache.spark.sql.Column) => graft.functions.NfcNormalize.of(c)
    val cases = Seq(
      // decomposed e + combining acute -> precomposed
      ("cafe\u0301", "caf\u00e9"),
      // Hangul jamo pair -> precomposed syllable
      ("\u1100\u1161", "\uac00"),
      // compatibility ligature is NOT decomposed by NFC (that is NFKC)
      ("\ufb01le", "\ufb01le"),
      // already-NFC ASCII passes through
      ("plain ascii", "plain ascii"),
      ("", ""))
    val got = cases.map(_._1).toDF("s").select(nfc(col("s"))).as[String].collect()
    assert(got.toSeq === cases.map(_._2), s"nfc diverged: ${got.toSeq}")
    // idempotent: nfc(nfc(x)) == nfc(x)
    val twice = cases.map(_._1).toDF("s")
      .select((nfc(nfc(col("s"))) === nfc(col("s"))).as("ok")).as[Boolean].collect()
    assert(twice.forall(identity))
    // SQL registration matches the Column API
    val viaSql = spark.sql("SELECT graft_nfc('cafe\u0301')").as[String].head()
    assert(viaSql === "caf\u00e9")
  }

  test("NFKC: compatibility folding known answers, idempotence, SQL twin") {
    import spark.implicits._
    val nfkc = (c: org.apache.spark.sql.Column) => graft.functions.NfkcNormalize.of(c)
    val cases = Seq(
      ("\ufb01le", "file"),            // ligature folds (NFC keeps it)
      ("\uff21\uff22", "AB"),         // fullwidth A B
      ("x\u00b2", "x2"),               // superscript two
      ("cafe\u0301", "caf\u00e9"),    // canonical composition still applies
      ("plain", "plain"))
    val got = cases.map(_._1).toDF("s").select(nfkc(col("s"))).as[String].collect()
    assert(got.toSeq === cases.map(_._2), s"nfkc diverged: ${got.toSeq}")
    val twice = cases.map(_._1).toDF("s")
      .select((nfkc(nfkc(col("s"))) === nfkc(col("s"))).as("ok")).as[Boolean].collect()
    assert(twice.forall(identity))
    assert(spark.sql("SELECT graft_nfkc('\ufb01le')").as[String].head() === "file")
  }
}
