package graft

import graft.TextReference._
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** clean_text parity with the reference's unit-tested goldens
  * (reference src/unit_tests/test_utils.py:8-21) plus kernel
  * properties the reference relies on implicitly.
  */
class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def clean(raw: String): String =
    Seq(raw).toDF("t").select(TextFunctions.cleanText(col("t"))).as[String].head()

  test("clean_text removes urls, mentions, hashtags (golden)") {
    assert(clean("Check this out http://example.com @user #awesome") ===
      "check this out")
  }

  test("clean_text removes punctuation and lowercases (golden)") {
    assert(clean("Hello, WORLD!!! How's it going?") ===
      "hello world hows it going")
  }

  test("clean_text strips all leading/trailing whitespace incl tab+newline (golden)") {
    assert(clean("    Text with spaces\t\n") === "text with spaces")
  }

  test("clean_text handles www URLs and keeps interior spacing intact") {
    assert(clean("go www.example.org now") === "go  now")
  }

  test("clean_text is idempotent over the corpus sample") {
    val docs = core.Tables.documents(spark, TestSpark.sfDir).limit(200)
    val once = TextFunctions.cleanText(col("text"))
    val twice = TextFunctions.cleanText(once)
    assert(docs.filter(not(once <=> twice)).count() === 0L)
  }

  test("punctuation constant is exactly Python string.punctuation (32 chars)") {
    assert(TextFunctions.asciiPunctuation.length === 32)
    assert(TextFunctions.asciiPunctuation ===
      (33 to 126).map(_.toChar).filterNot(_.isLetterOrDigit).mkString)
  }

  test("sentiment decode maps 1/0/else (reference src/predict.py:84-92)") {
    val out = Seq(1, 0, 7).toDF("p")
      .select(TextFunctions.decodeSentiment(col("p"))).as[String].collect()
    assert(out === Array("Positive sentiment", "Negative sentiment", "Unknown sentiment"))
  }

  test("codegen'd word shingles equal the HOF spelling over the corpus") {
    // the ShingleUtil.shingles kernel must reproduce the original
    // transform/sequence/element_at/concat_ws chain element-for-element
    val docs = core.Tables.documents(spark, TestSpark.sfDir)
    for (n <- Seq(2, 3, 5)) {
      val toks = TextFunctions.tokens(col("text"))
      val diff = docs.filter(
        not(TextFunctions.wordShingles(toks, n) <=> hofShingles(toks, n)))
      assert(diff.count() === 0L, s"n=$n")
    }
    // edge cases: empty string, exactly n tokens, null input
    val edge = Seq(Some(""), Some("a b c"), Some("x"), None).toDF("t")
    val got = edge.select(TextFunctions.wordShingles(
      when(col("t").isNotNull, TextFunctions.tokens(col("t"))), 3))
      .as[Seq[String]].collect()
    assert(got(0) === Seq.empty || got(0) === Seq("")) // "" tokenizes to [""]
    assert(got(1) === Seq("a b c"))
    assert(got(2) === Seq.empty)
    assert(got(3) === Seq.empty) // NULL tokens -> empty, like the when() wrapper
  }

  test("word shingles: short docs yield empty array, not an error") {
    val out = Seq("one two", "a b c d").toDF("t")
      .select(TextFunctions.wordShingles(TextFunctions.tokens(col("t")), 3))
      .as[Seq[String]].collect()
    assert(out(0) === Seq.empty)
    assert(out(1) === Seq("a b c", "b c d"))
  }

  private val advStrings: Seq[String] = Seq(
    "", " ", "\t\n\u000B\f\r", "a", " a ", "\ta b\u000Bc\rd\f e\n",
    "no_whitespace", "  double  spaces  inside  ", "tab\tonly",
    "unicode \u00e9t\u00e9 caf\u00e9  ", "the and of to is",
    "der die das und ist", "el los las de y le la les et des",
    "theand of-to is. (is) [the] _the_ the1 1the the_ the",
    "\u00e9the the\u00e9 \u00e9the\u00e9 the", "der\u00e9die",
    // uppercase ASCII (the ASCII lowering), uppercase letters whose
    // lowering needs ICU (İ becomes two code points, a word-final Σ
    // becomes ς, the Kelvin sign k, ẞ ß), and wsChars at both ends
    "HELLO World THE End", "ÉCOLE Ärger İSTANBUL ΟΔΟΣ \u212AELVIN STRAẞE",
    "ΣΑΣ, ΣΑΣ. Σ", "\t\u000B \f ÉCOLE \n\r", " \u000BMiXeD CaSe\t\n ")

  /** clean_text as the reference spells it, each pass a Spark built-in:
    * three regex deletes, the punctuation translate, Spark's `lower`,
    * and the strip of `wsChars` by regex. */
  private def cleanRef(c: org.apache.spark.sql.Column) =
    pyStripRegex(lower(dropPunctuation(stripHashtags(stripMentions(stripUrls(c))))))

  /** A corpus text inside every clean_text rule, as q20 wraps it. */
  private def messy(docs: org.apache.spark.sql.DataFrame) =
    docs.select(concat(lit("  #Tag @user http://x.com/a?b=1 "),
      col("text"), lit(" READ!!\t")).as("text"))

  test("one-kernel cleanText equals the reference's passes with Spark's lower") {
    val adv = advStrings.toDF("text")
    val docs = core.Tables.documents(spark, TestSpark.sfDir).select("text")
    Seq(adv, docs, messy(docs)).foreach { df =>
      val bad = df.filter(not(TextFunctions.cleanText(col("text")) <=> cleanRef(col("text"))))
      assert(bad.count() === 0L,
        bad.select(col("text"), TextFunctions.cleanText(col("text")), cleanRef(col("text")))
          .collect().mkString("\n").take(2000))
    }
  }

  test("byte-scan tokens equal split(pyStrip, \\s+) (corpus + adversarial)") {
    val adv = advStrings.toDF("text")
    val docs = core.Tables.documents(spark, TestSpark.sfDir).select("text")
    Seq(adv, docs).foreach { df =>
      val bad = df.filter(not(
        TextFunctions.tokens(col("text")) <=> tokensRegex(col("text"))))
      assert(bad.count() === 0L)
    }
    // null propagates like the regex spelling
    val n = Seq[Option[String]](None).toDF("text")
      .select(TextFunctions.tokens(col("text"))).head()
    assert(n.isNullAt(0))
  }

  test("one-pass noise strip equals the three sequential regexp_replace passes") {
    val noiseAdv = Seq(
      "", " ", "plain text only",
      "http://a.b x", "www.a.b x", "xhttp://a y", "ahttpb", "awwwb", "wwhttpx",
      "http", "www", "http ", "www ", "htt p", "wwww", "#http", "@httpx",
      "x@httpyy z", "pre http://u post", "two http://a http://b urls",
      "@user x", "@@abc", "@a@b", "x@y#z", "@x#y", "#@abc", "#@#x", "x#@ay",
      "#tag y", "##x", "#x#y", "#ab@cd ef", "#ab@cd-x", "#ab@cdxy", "@#x y",
      "@#ab", "#@x@y7abc", "#@x-abc", "#@xy7abc", "#@x abc", "#", "@", "#@",
      "a# b@ c", "é@x #é #aé @aé", "@é", "#é", "mid#tag mid@user",
      "@_x #_y", "@1 #2", "trail@ trail# ",
      "  #Tag @user http://x.com/a?b=1 words READ!!\t")
    val adv = (advStrings ++ noiseAdv).toDF("text")
    val docs = core.Tables.documents(spark, TestSpark.sfDir).select("text")
    val ref = (c: org.apache.spark.sql.Column) =>
      stripHashtags(stripMentions(stripUrls(c)))
    Seq(adv, docs, messy(docs)).foreach { df =>
      val bad = df.filter(not(
        TextFunctions.stripNoise(col("text")) <=> ref(col("text")) &&
        TextFunctions.cleanText(col("text")) <=> cleanRef(col("text"))))
      assert(bad.count() === 0L,
        bad.select(col("text"), TextFunctions.stripNoise(col("text")), ref(col("text")))
          .collect().mkString("\n").take(2000))
    }
    // null propagates
    val nl = Seq[Option[String]](None).toDF("text")
      .select(TextFunctions.stripNoise(col("text"))).head()
    assert(nl.isNullAt(0))
    // randomized: seeded strings over a hostile alphabet, with
    // uppercase ASCII, letters that ICU lowers, and more wsChars
    val rnd = new scala.util.Random(99)
    val alpha = "h t p w @ # a 7 _ - é ".split(" ").mkString + "htpw@#a" +
      "HTPWA" + "ÉÄİΣ\u212Aẞ" + " \t\n"
    val fuzz = (1 to 4000).map { _ =>
      val len = rnd.nextInt(24)
      (1 to len).map(_ => alpha.charAt(rnd.nextInt(alpha.length))).mkString
    }.toDF("text")
    assert(fuzz.filter(not(
      TextFunctions.stripNoise(col("text")) <=> ref(col("text")) &&
      TextFunctions.cleanText(col("text")) <=> cleanRef(col("text")))).count() === 0L)
  }

  test("one-pass token stats equal the size/filter/aggregate HOF spelling") {
    val adv = (advStrings ++ Seq(
      "the THE The the. ,the the,", // stopword must be exact-equal, not substring
      "it is a an and or of to in the", // every stopword once
      "itit isis aa anan theandof", // near-misses longer than the words
      "a é the 𝄞 of", // multibyte + surrogate-pair tokens
      "seven77 eight888 is")).toDF("text")
    val docs = core.Tables.documents(spark, TestSpark.sfDir).select("text")
    Seq(adv, docs).foreach { df =>
      val toks = TextFunctions.tokens(col("text"))
      val checked = df.select(
        TextFunctions.tokenStats3(col("text")).as("st"),
        size(toks).cast("long").as("e_n"),
        stopwordCount(toks).cast("long").as("e_stop"),
        tokenCharSum(toks).cast("long").as("e_chars"))
      val bad = checked.filter(not(
        element_at(col("st"), 1) <=> col("e_n") &&
        element_at(col("st"), 2) <=> col("e_stop") &&
        element_at(col("st"), 3) <=> col("e_chars")))
      assert(bad.count() === 0L, checked.collect().mkString("\n").take(2000))
    }
    // null propagates
    val n = Seq[Option[String]](None).toDF("text")
      .select(TextFunctions.tokenStats3(col("text"))).head()
    assert(n.isNullAt(0))
  }

  test("one-pass marker counts equal the four regexp_extract_all scans") {
    import TextFunctions.{deMarkers, enMarkers, esMarkers, frMarkers}
    val mc = TextFunctions.markerCounts(col("text"))
    val adv = advStrings.toDF("text")
    val docs = core.Tables.documents(spark, TestSpark.sfDir).select("text")
    Seq(adv, docs).foreach { df =>
      val checked = df.select(
        mc.as("mc"),
        markerHits(col("text"), enMarkers).as("e0"),
        markerHits(col("text"), frMarkers).as("e1"),
        markerHits(col("text"), esMarkers).as("e2"),
        markerHits(col("text"), deMarkers).as("e3"))
      val bad = checked.filter(not(
        element_at(col("mc"), 1) <=> col("e0") &&
        element_at(col("mc"), 2) <=> col("e1") &&
        element_at(col("mc"), 3) <=> col("e2") &&
        element_at(col("mc"), 4) <=> col("e3")))
      assert(bad.count() === 0L)
    }
  }

}
