package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the codegen kernels byte-for-byte against the Spark-expression
  * formulations they replaced, on inputs the corpus fixtures do not
  * reach: supplementary-plane code points (surrogate pairs), combining
  * marks (script INHERITED — no class), mixed scripts, invalid UTF-8,
  * edge whitespace and null-bearing conversation turns. Every test runs
  * in both expression-evaluation modes ([[inBothModes]]). */
class KernelParitySpec extends SparkTestBase {
  import spark.implicits._

  /** Runs `body` once per expression-evaluation mode, whole-stage
    * codegen off: generated expression code (`CODEGEN_ONLY`), then
    * interpreted `eval` (`NO_CODEGEN`). ConvertToLocalRelation is
    * excluded, so a projection over a local Seq runs in the mode rather
    * than being folded through `eval` at planning. A failure names its
    * mode; the session's confs are restored after each run. */
  private def inBothModes[T](body: => T): Seq[(String, T)] =
    Seq("CODEGEN_ONLY", "NO_CODEGEN").map { mode =>
      val confs = Seq(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try mode -> withClue(s"[$mode] ")(body)
      finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** A seeded corpus of prose and junk: stopwords in every case and at
    * edges, punctuation runs, digits, accented and CJK words, tab/LF/CR
    * separators, lengths from empty to past the 500-char saturation. */
  private val corpus: Seq[String] = {
    val rnd = new scala.util.Random(10L)
    val words = Seq("the", "The", "a", "an", "and", "or", "of", "to", "in", "is",
      "it", "for", "on", "data", "pipeline", "quality", "extraordinarily",
      "x", "café", "naïve", "世界", "42", "3.14", "e-mail", "don't", "@@@",
      "###", "!!!", "...", "—", "(see)", "😀", "𝔘𝔫𝔦", "Ⅻ", "½")
    val seps = Seq(" ", " ", " ", "  ", "\t", "\n", " \r\n ", "\u00a0")
    (0 until 300).map { _ =>
      val n = rnd.nextInt(160)
      val body = (0 until n).map(_ => words(rnd.nextInt(words.size)))
        .zipWithIndex.map { case (w, i) =>
          if (i == 0) w else seps(rnd.nextInt(seps.size)) + w }.mkString
      val edges = Seq("", "", " ", "\t", "\n", "  ")
      edges(rnd.nextInt(edges.size)) + body + edges(rnd.nextInt(edges.size))
    }
  }

  /** Hostile text as raw bytes (null = SQL NULL), read back with
    * `CAST(bytes AS STRING)`, which does not validate UTF-8. */
  private val hostile: Seq[Array[Byte]] = {
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def bytes(xs: Int*) = xs.map(_.toByte).toArray
    Seq(
      bytes(0xC3, 0x28), bytes(0xFF, 0x20, 0x61), bytes(0x74, 0x68, 0x65, 0xE2, 0x82),
      bytes(0xE2, 0x82, 0x20), bytes(0x20, 0xF0, 0x9F, 0x98), bytes(0xC0, 0xAF),
      bytes(0xED, 0xA0, 0x80, 0x20, 0x74, 0x68, 0x65),
      utf8("the ") ++ bytes(0x80, 0x80) ++ utf8(" of\tit"),
      utf8("😀 the 𝔘𝔫𝔦 and 𠀀 of 🎉!"), utf8("e\u0301 cafe\u0301 and the n\u0303"),
      utf8("a\u00a0b the\u00a0of non\u00a0breaking"), utf8("\tabc def\n"),
      utf8("\r\nthe of\r"), utf8("\tthe\t"), utf8(""), utf8("   "), utf8("\t"),
      utf8("\t\t \n"), utf8("the\u000bof\fit \u000b"), utf8("the"), utf8(" the of and "),
      null)
  }

  /** Corpus and hostile rows as `(id, text)`. */
  private def texts: DataFrame =
    (corpus.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)) ++ hostile)
      .zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "b")
      .select(col("id"), col("b").cast("string").as("text"))

  test("qualityScore kernel ≡ the Spark-expression reference, bit for bit") {
    // the hostile rows reach the kernels as invalid UTF-8
    assert(texts.filter(!expr("is_valid_utf8(text)")).count() == 8)
    val modes = inBothModes {
      def scores(c: org.apache.spark.sql.Column) = texts.select(col("id"), c.as("q"))
        .collect().map(r => r.getLong(0) ->
          java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
      def gated(c: org.apache.spark.sql.Column) =
        texts.filter(c >= 0.5).select("id").as[Long].collect().toSet
      val kernel = scores(graft.text.TextFunctions.qualityScore(col("text")))
      assert(kernel == scores(graft.text.QualityScoreReference.qualityScore(col("text"))))
      // a stopword list with an empty word counts the empty edge tokens
      val odd = Seq("", "the", "é", "𝔘𝔫𝔦")
      assert(scores(graft.text.TextFunctions.qualityScore(col("text"), odd)) ==
        scores(graft.text.QualityScoreReference.qualityScore(col("text"), odd)))
      assert(gated(graft.text.TextFunctions.qualityScore(col("text"))) ==
        gated(graft.text.QualityScoreReference.qualityScore(col("text"))))
      kernel
    }
    assert(modes.map(_._2).distinct.size == 1, "the two modes disagree")
    assert(modes.head._2.size == corpus.size + hostile.size)
  }

  test("normalizedTokens ≡ tokens(normalizeText(_))") {
    import graft.text.TextFunctions._
    val modes = inBothModes {
      def toks(c: org.apache.spark.sql.Column) = texts.select(col("id"), c.as("t"))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toList)).toMap
      val once = toks(normalizedTokens(col("text")))
      assert(once == toks(tokens(normalizeText(col("text")))))
      once
    }
    assert(modes.map(_._2).distinct.size == 1, "the two modes disagree")
  }

  test("scriptCounts matches the per-class regex strips on adversarial text") {
    inBothModes {
      // supplementary-plane literals via surrogate escapes: math fraktur
      // U+1D518 (script COMMON) and CJK extension B U+20000 (script HAN)
      val fraktur = "𝔘𝔫𝔦"
      val cjkExtB = "𠀀𪛖"
      val tricky = Seq(
        "hello мир 世界 مرحبا " +
          "γειά 안녕 こんにちは " +
          "カタカナ 123",
        "éclair café", // combining acute: INHERITED, no class
        fraktur,
        cjkExtB,
        "tab\tand\nnewline\r mix 7",
        "", "   ", "!!!@#$%")
        .toDF("text").withColumn("doc_id", monotonically_increasing_id())
      val kernel = graft.text.TextFunctions.scriptProfile(tricky, "doc_id", "text")
      // the retired formulation: one [^\p{IsXxx}] strip per class
      val body = regexp_replace(coalesce(col("text"), lit("")), "\\s+", "")
      val n = length(body)
      val regexCols = graft.text.TextFunctions.scriptClasses.map { case (name, cls) =>
        when(n === 0, 0.0)
          .otherwise(round(
            length(regexp_replace(body, s"[^$cls]", "")).cast("double") / n, 6))
          .as(s"${name}_frac")
      }
      val regex = tricky.select(
        col("doc_id") +: n.cast("long").as("n_chars") +: regexCols: _*)
      val ks = kernel.drop("dominant_script").collect().map(_.toSeq).toSet
      val rs = regex.collect().map(_.toSeq).toSet
      assert(ks == rs, s"kernel/regex divergence:\nkernel: $ks\nregex: $rs")
    }
  }

  test("ConvRenderExpr matches the HOF render on null-bearing turns") {
    inBothModes {
      val conv = Seq(
        (1L, Seq(("user", "hi"), ("assistant", "hello there"))),
        (2L, Seq((null.asInstanceOf[String], "orphan"),
          ("user", null.asInstanceOf[String]), ("system", "s"))),
        (3L, Seq.empty[(String, String)]))
        .toDF("id", "raw")
        .select(col("id"), expr(
          "transform(raw, t -> named_struct('role', t._1, 'content', t._2))")
          .as("turns"))
      val hof = conv.select(col("id"), array_join(
        transform(col("turns"), t =>
          concat(lit("<|"), t.getField("role"), lit("|> "), t.getField("content"))),
        "\n").as("txt"))
      val kernel = conv.select(col("id"),
        graft.text.Conversations.renderConversation(col("turns")).as("txt"))
      assert(kernel.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
        hof.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    }
  }

  test("BigramPairsExpr matches zip_with slices incl. null tokens") {
    inBothModes {
      val toks = Seq(
        Seq("a", "b", "c"), Seq("only"), Seq.empty[String],
        Seq("x", null, "z"))
        .toDF("toks").withColumn("id", monotonically_increasing_id())
      // the HOF formulation is undefined below 2 tokens (negative slice
      // length) — production guarded it with `where(size >= 2)`; the
      // kernel subsumes the guard by returning the empty pair array
      val hof = toks.select(col("id"),
        when(size(col("toks")) < 2,
          expr("CAST(array() AS array<struct<prev: string, w: string>>)"))
          .otherwise(zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1),
            (a, b) => struct(a.as("prev"), b.as("w")))).as("p"))
      val kernel = toks.select(col("id"),
        org.apache.spark.sql.graft.ColumnBridge(BigramPairsExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("toks")))).as("p"))
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.select(col("id"), to_json(col("p")).as("j"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(norm(kernel) == norm(hof))
    }
  }
}
