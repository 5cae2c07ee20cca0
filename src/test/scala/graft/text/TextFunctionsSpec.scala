package graft.text

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TextFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c.as("v")).head().getAs[T]("v")

  private def oneSeq(c: org.apache.spark.sql.Column, text: String): List[String] =
    Seq(text).toDF("t").select(c.as("v")).head().getSeq[String](0).toList

  test("tokens: whitespace split, empty and blank give empty array") {
    assert(oneSeq(TextFunctions.tokens($"t"), "a  b\tc") == List("a", "b", "c"))
    assert(oneSeq(TextFunctions.tokens($"t"), "   ") == Nil)
    assert(oneSeq(TextFunctions.tokens($"t"), "") == Nil)
  }

  test("tokenCount") {
    assert(one[Int](TextFunctions.tokenCount($"t"), "one two three") == 3)
    assert(one[Int](TextFunctions.tokenCount($"t"), "") == 0)
  }

  test("bpeTokenCount splits letters/digits/punctuation runs and contractions") {
    assert(one[Int](TextFunctions.bpeTokenCount($"t"), "hello world") == 2)
    assert(one[Int](TextFunctions.bpeTokenCount($"t"), "don't stop") == 3) // don + 't + stop
    assert(one[Int](TextFunctions.bpeTokenCount($"t"), "a1b") == 3)       // a | 1 | b
    assert(one[Int](TextFunctions.bpeTokenCount($"t"), "x!!") == 2)       // x | !!
  }

  test("normalizeText lowercases, trims, collapses whitespace") {
    assert(one[String](TextFunctions.normalizeText($"t"), "  A  B\t C ") == "a b c")
  }

  test("fingerprint is md5 of normalised text, stable under whitespace noise") {
    val a = one[String](TextFunctions.fingerprint($"t"), "Hello  World")
    val b = one[String](TextFunctions.fingerprint($"t"), " hello world ")
    assert(a == b)
    assert(a.matches("[0-9a-f]{32}"))
  }

  test("normTokens keeps empty edge tokens; normalizedTokens is tokens(normalizeText(_))") {
    // normalizeText trims spaces only: a tab/LF/CR edge becomes a space
    for ((text, edged, clean) <- Seq(
        ("\tabc def\n", List("", "abc", "def", ""), List("abc", "def")),
        ("\t", List("", ""), Nil))) {
      assert(oneSeq(TextFunctions.normTokens($"t"), text) == edged)
      assert(oneSeq(TextFunctions.normalizedTokens($"t"), text) == clean)
      assert(oneSeq(TextFunctions.tokens(TextFunctions.normalizeText($"t")), text) == clean)
    }
  }

  test("qualityScore of null text is 0.625 and passes the 0.5 gate") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "@@@ ### !!! %%%")).toDF("id", "t")
    for (q <- Seq(TextFunctions.qualityScore($"t"), QualityScoreReference.qualityScore($"t"))) {
      assert(docs.filter($"id" === 1L).select(q).head().getDouble(0) == 0.625)
      assert(docs.filter(q >= 0.5).select("id").as[Long].collect().toSeq == Seq(1L))
    }
  }

  test("qualityScore is in [0,1]; natural text beats noise") {
    val good = one[Double](TextFunctions.qualityScore($"t"),
      "the quick brown fox jumps over the lazy dog and it keeps on running for a while")
    val noise = one[Double](TextFunctions.qualityScore($"t"), "@@@ ### !!! %%%")
    assert(good >= 0.0 && good <= 1.0 && noise >= 0.0 && noise <= 1.0)
    assert(good > noise)
  }

  test("wordFrequencies counts normalised tokens with deterministic ordering") {
    val d = Seq("The cat sat", "the CAT ran", "dogs ran fast").toDF("text")
    val out = TextFunctions.wordFrequencies(d, "text", topN = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out.head == ("cat", 2L) || out.head == ("ran", 2L) || out.head == ("the", 2L))
    assert(out.map(_._1) == out.map(_._1)) // deterministic run
    // ties at freq=2 break alphabetically: cat, ran, the
    assert(out == Seq(("cat", 2L), ("ran", 2L), ("the", 2L)))
    assertThrows[IllegalArgumentException](
      TextFunctions.wordFrequencies(d, "text", topN = 0))
  }

  test("scrubText masks URLs, emails, and long digit runs in order") {
    assert(one[String](TextFunctions.scrubText($"t"),
      "see https://ex.io/a?key=9999999 or mail bob.smith+x@corp.co.uk now") ==
      "see <URL> or mail <EMAIL> now")
    assert(one[String](TextFunctions.scrubText($"t"),
      "call 5551234567 ext 123") == "call <NUM> ext 123") // 3 digits < 7 kept
    assert(one[String](TextFunctions.scrubText($"t"),
      "plain text stays put") == "plain text stays put")
  }

  test("langId votes on marker tokens; ties break to earlier profile") {
    val profiles = Seq("aa" -> Seq("alpha"), "bb" -> Seq("beta"))
    assert(one[String](TextFunctions.langId($"t", profiles), "beta beta alpha") == "bb")
    assert(one[String](TextFunctions.langId($"t", profiles), "alpha beta") == "aa")
    assert(one[String](TextFunctions.langId($"t", profiles), "nothing here") == "aa")
  }

  private def rep(c: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      text: String): Double =
    Seq(text).toDF("t")
      .withColumn("toks", TextFunctions.tokens(TextFunctions.normalizeText($"t")))
      .select(c($"toks").as("v")).head().getDouble(0)

  test("dupNgramFrac: 0 for all-distinct, rises with repeated phrases") {
    assert(rep(TextFunctions.dupNgramFrac(_, 3), "a b c d e") == 0.0)
    // "a b c a b c a b c": 7 trigrams, 3 distinct -> 4/7 repeated
    assert(math.abs(rep(TextFunctions.dupNgramFrac(_, 3), "a b c a b c a b c") - 4.0 / 7) < 1e-12)
    // shorter than n: single whole-doc gram, no repetition signal
    assert(rep(TextFunctions.dupNgramFrac(_, 3), "a b") == 0.0)
    assert(rep(TextFunctions.dupNgramFrac(_, 3), "") == 0.0)
  }

  test("topTokenFrac: uniform text low, spam high, empty zero") {
    assert(rep(TextFunctions.topTokenFrac, "a b c d") == 0.25)
    assert(rep(TextFunctions.topTokenFrac, "buy buy buy now") == 0.75)
    assert(rep(TextFunctions.topTokenFrac, "") == 0.0)
  }

  test("topTokenFrac: TopTokenCountExpr kernel ≡ the quadratic HOF") {
    val docs = Seq("a b c d", "buy buy buy now", "", "x", "a a b b b a",
      "one two one two one").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .withColumn("toks", TextFunctions.normTokens(col("text")))
    val hof = docs.select(col("id"),
      when(size(col("toks")) === 0, 0.0).otherwise(
        aggregate(array_distinct(col("toks")), lit(0),
          (acc, t) => greatest(acc, size(filter(col("toks"), x => x === t))))
          .cast("double") / size(col("toks")).cast("double")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val kernel = docs.select(col("id"),
      TextFunctions.topTokenFrac(col("toks")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(kernel == hof)
    // null tokens: never counted, never crash (HOF filter drops them)
    val withNull = spark.sql(
      "SELECT array('a', CAST(NULL AS STRING), 'a', 'b') AS toks")
    assert(withNull.select(TextFunctions.topTokenFrac(col("toks")))
      .head().getDouble(0) == 0.5)
  }

  test("scriptProfile: hand-computed fractions, dominance, edge docs") {
    val docs = Seq(
      (1L, "hello world"),             // 10 latin chars, all latin
      (2L, "\u043f\u0440\u0438\u0432\u0435\u0442 ok"), // 6 cyrillic + 2 latin
      (3L, "12345"),                    // all digits
      (4L, "   "),                      // empty after whitespace strip
      (5L, "!!! ???")).toDF("doc_id", "text") // no script chars at all
    val out = TextFunctions.scriptProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 10L)
    assert(out(1L).getDouble(2) == 1.0)                  // latin_frac
    assert(out(1L).getString(10) == "latin")
    assert(out(2L).getDouble(2) == 0.25)                 // 2/8 latin
    assert(out(2L).getDouble(3) == 0.75)                 // 6/8 cyrillic
    assert(out(2L).getString(10) == "cyrillic")
    assert(out(3L).getDouble(9) == 1.0 && out(3L).getString(10) == "digit")
    assert(out(4L).getLong(1) == 0L && out(4L).getString(10) == "none")
    assert(out(5L).getString(10) == "other")
  }

  test("scriptProfile dominance ties break by scriptClasses order") {
    val docs = Seq((1L, "ab \u0432\u0433")).toDF("doc_id", "text") // 2 latin, 2 cyrillic
    val r = TextFunctions.scriptProfile(docs, "doc_id", "text").head()
    assert(r.getString(10) == "latin") // first in declaration order wins ties
  }

  test("piiProfile counts independently and agrees with scrubText's patterns") {
    val docs = Seq(
      (1L, "visit https://a.io/x and https://b.io/y mail me bob@x.co num 12345678"),
      (2L, "clean text with short 123 number"),
      (3L, "https://u.io/q?email=a@b.co")).toDF("doc_id", "text")
    val out = TextFunctions.piiProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((2L, 1L, 1L, true)))
    assert(out(2L) == ((0L, 0L, 0L, false)))
    // the email inside the URL counts under BOTH patterns (independent
    // counting; scrubText would rewrite it as one URL)
    assert(out(3L) == ((1L, 1L, 0L, true)))
  }

  test("piiProfile and scriptProfile treat null text as empty, not null output") {
    val docs = Seq((1L, null: String), (2L, "plain text")).toDF("doc_id", "text")
    val pii = TextFunctions.piiProfile(docs, "doc_id", "text")
      .filter($"doc_id" === 1L).head()
    assert(pii.getLong(1) == 0L && !pii.getBoolean(4))
    val sp = TextFunctions.scriptProfile(docs, "doc_id", "text")
      .filter($"doc_id" === 1L).head()
    assert(sp.getLong(1) == 0L && sp.getString(10) == "none")
  }

  test("charEntropy: closed forms, code-point counting, empty/null") {
    val df = Seq(Some("aabb"), Some("aaaa"), Some("abcd"), Some(""), None)
      .toDF("t")
    val got = df.select(TextFunctions.charEntropy($"t").as("h")).collect()
    assert(math.abs(got(0).getDouble(0) - 1.0) < 1e-12)
    assert(got(1).getDouble(0) == 0.0)
    assert(math.abs(got(2).getDouble(0) - 2.0) < 1e-12)
    assert(got(3).getDouble(0) == 0.0)
    assert(got(4).isNullAt(0))
    // surrogate pair counts as ONE symbol: 𝄞𝄞a = {𝄞:2, a:1}
    val clef = new String(Character.toChars(0x1D11E))
    val h = Seq(clef + clef + "a").toDF("t")
      .select(TextFunctions.charEntropy($"t")).as[Double].head()
    val want = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) / math.log(2)
    assert(math.abs(h - want) < 1e-12)
  }

  test("tokenEntropy: uniform vs degenerate vocab, whitespace handling") {
    val df = Seq("x x y", "x x x", "  ", "a b c d").toDF("t")
    val got = df.select(TextFunctions.tokenEntropy($"t").as("h"))
      .as[Double].collect()
    val want01 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) / math.log(2)
    assert(math.abs(got(0) - want01) < 1e-12)
    assert(got(1) == 0.0)
    assert(got(2) == 0.0)
    assert(math.abs(got(3) - 2.0) < 1e-12)
  }

  test("normalizeUnicode composes NFD to NFC; foldAccents strips diacritics") {
    val composed = "café"
    val decomposed = "café"
    assert(composed != decomposed) // different code points, same rendering
    val df = Seq(Some(composed), Some(decomposed), Some("naïve"),
      Some("plain"), Some(""), None).toDF("t")
    val got = df.select(
      TextFunctions.normalizeUnicode($"t").as("nfc"),
      TextFunctions.foldAccents($"t").as("folded")).collect()
    assert(got(0).getString(0) == composed && got(1).getString(0) == composed,
      "both forms must normalise to the same NFC bytes")
    assert(got(0).getString(1) == "cafe" && got(1).getString(1) == "cafe")
    assert(got(2).getString(0) == "naïve" && got(2).getString(1) == "naive")
    assert(got(3).getString(0) == "plain" && got(3).getString(1) == "plain")
    assert(got(4).getString(0) == "" && got(4).getString(1) == "")
    assert(got(5).isNullAt(0) && got(5).isNullAt(1))
    // the hygiene property: normalisation makes the dedup fingerprint agree
    val fps = df.limit(2).select(
      TextFunctions.fingerprint(TextFunctions.normalizeUnicode($"t")))
      .as[String].collect()
    assert(fps(0) == fps(1), "NFC must unify fingerprints of equal-looking text")
  }

  test("deflateRatio separates boilerplate from noise; empty -> 1") {
    val boiler = "spark data batch " * 20
    val noise = (0 until 8).map(i =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"n$i")).mkString
    val df = Seq(Some(boiler), Some(noise), Some(""), None).toDF("t")
    val got = df.select(TextFunctions.deflateRatio($"t").as("r")).collect()
    assert(got(0).getDouble(0) < 0.2, s"boilerplate ratio ${got(0).getDouble(0)}")
    assert(got(1).getDouble(0) > 0.45, s"noise ratio ${got(1).getDouble(0)}")
    assert(got(2).getDouble(0) == 1.0)
    assert(got(3).isNullAt(0))
  }
}
