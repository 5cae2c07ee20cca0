package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{CharEntropyExpr, DeflateRatioExpr, FoldAccentsExpr, NfcNormalizeExpr, TokenEntropyExpr}

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All pure Catalyst expressions (no UDFs): they stay inside whole-stage
  * codegen and scale linearly with no shuffle. Deterministic by
  * construction so results can be oracle-checked.
  */
object TextFunctions {

  /** Whitespace tokens of a text column (trimmed; empty → empty array). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: counts maximal runs of letters / digits /
    * punctuation, the shape a byte-pair tokenizer's pre-tokenizer splits
    * on. Regex-only — codegen'd, no UDF.
    */
  val bpeTokenPattern: String = "(?:'(?:s|d|m|t|ll|ve|re))| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0)))

  /** NFC canonical composition (Spark has no Unicode-normalisation
    * builtin): makes visually-equal NFC/NFD strings byte-equal, the
    * prerequisite for exact dedup / fingerprinting / keyword matching
    * on multilingual crawl. Codegen'd kernel, narrow pass;
    * already-NFC input (the common case) returns without copying.
    * Null → null. */
  def normalizeUnicode(text: Column): Column =
    ColumnBridge(NfcNormalizeExpr(ColumnBridge.expression(text)))

  /** Accent folding (NFD → strip combining marks → NFC): café→cafe —
    * the matching-key reducer for search and record linkage, not a
    * display transform. Null → null. */
  def foldAccents(text: Column): Column =
    ColumnBridge(FoldAccentsExpr(ColumnBridge.expression(text)))

  /** Shannon entropy (bits/symbol) of the character distribution —
    * low values flag repeated-symbol junk and binary-ish noise. One
    * codegen'd scalar kernel, narrow pass. Null → null, empty → 0. */
  def charEntropy(text: Column): Column =
    ColumnBridge(CharEntropyExpr(ColumnBridge.expression(text)))

  /** Shannon entropy (bits/token) of the whitespace-token
    * distribution — low values flag template/boilerplate text whose
    * token counts are high but vocabulary is tiny. Null → null. */
  def tokenEntropy(text: Column): Column =
    ColumnBridge(TokenEntropyExpr(ColumnBridge.expression(text)))

  /** DEFLATE compressed / raw byte ratio — the compressibility filter:
    * self-repetitive boilerplate compresses far below ~0.4 while
    * natural prose sits well above it. Deterministic within an engine
    * (JDK zlib, level 6); THRESHOLD it, don't compare raw values
    * across engines/zlib builds. Null → null, empty → 1. */
  def deflateRatio(text: Column): Column =
    ColumnBridge(DeflateRatioExpr(ColumnBridge.expression(text)))

  /** Normalised text: lowercase, trimmed, whitespace collapsed — the
    * canonical form for exact dedup and fingerprinting. */
  def normalizeText(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Tokens of the normalised text, exactly `tokens(normalizeText(_))`,
    * with the regex of [[normalizeText]] run once per row (inside the
    * CASE WHEN of [[tokens]] it runs twice). Exact because
    * [[normalizeText]] leaves isolated single spaces as its only
    * whitespace, so `split` yields empty pieces only at a leading or
    * trailing space (text with tab/LF/CR at an edge), and those go. */
  def normalizedTokens(text: Column): Column =
    array_remove(split(normalizeText(text), "\\s+"), "")

  /** Normalised text split on whitespace, empty text → empty array —
    * the tokeniser the word-frequency, DSIR, subword and substring
    * operators (and their oracle SQL) share. Not
    * `tokens(normalizeText(_))` (that is [[normalizedTokens]]):
    * [[normalizeText]] trims spaces only, so text with tab/LF/CR at an
    * edge keeps an empty edge token here — `"\tabc def\n"` gives
    * `["", "abc", "def", ""]` and `"\t"` gives `["", ""]`. */
  def normTokens(text: Column): Column = {
    val n = normalizeText(text)
    when(length(n) === 0, array().cast("array<string>"))
      .otherwise(split(n, "\\s+"))
  }

  /** Document fingerprint: md5 of the normalised text. Stable across
    * engines (hex md5), unlike engine-internal hash functions. */
  def fingerprint(text: Column): Column = md5(normalizeText(text))

  /** PII / noise scrubbing for training corpora: URLs → `<URL>`,
    * emails → `<EMAIL>`, digit runs of 7+ (phone numbers, account ids)
    * → `<NUM>`. Applied in that order so URL query strings never leak
    * partial email/number matches. Patterns use no lookaround, so
    * Java-regex and RE2 engines agree on every match — the transform
    * is oracle-checkable. */
  def scrubText(text: Column): Column = {
    val noUrl = regexp_replace(text, "https?://\\S+", "<URL>")
    val noEmail = regexp_replace(noUrl,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(noEmail, "[0-9]{7,}", "<NUM>")
  }

  /** PII/noise AUDIT — the measuring counterpart of [[scrubText]]:
    * per-document match counts for the same three patterns (URLs,
    * emails, 7+-digit runs), counted INDEPENDENTLY on the raw text
    * (scrubText replaces sequentially, so an email inside a URL query
    * string scrubs as one URL but counts under both patterns here),
    * plus an `any_pii` flag. The decide-before-rewriting pass: profile
    * the corpus with this narrow zero-exchange projection, route only
    * the flagged slice through the scrub rewrite. Patterns use no
    * lookaround — Java regex and RE2 agree, so counts are
    * oracle-checkable. Output: (idCol, n_urls, n_emails, n_numbers,
    * any_pii). */
  def piiProfile(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // null text profiles as empty (all counts 0), not as null counts
    val t = coalesce(col(textCol), lit(""))
    val urls = regexp_count(t, lit("https?://\\S+"))
    val emails = regexp_count(t,
      lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
    val nums = regexp_count(t, lit("[0-9]{7,}"))
    df.select(col(idCol),
      urls.cast("long").as("n_urls"),
      emails.cast("long").as("n_emails"),
      nums.cast("long").as("n_numbers"),
      (urls + emails + nums > 0).as("any_pii"))
  }

  /** Quality score in [0,1]: blends length, punctuation density,
    * stopword ratio and mean token length — the standard cheap quality
    * heuristics applied before LLM training. Deterministic arithmetic,
    * rounded to 6 places:
    *   - length: `min(length / 500, 1)`
    *   - punctuation: `1 − min(4 · non-(letter/digit/space) chars /
    *     max(length, 1), 1)`
    *   - stopwords: `min(4 · stopword tokens / max(tokens, 1), 1)` over
    *     [[tokens]]
    *   - token length: 1 when non-space chars / max(tokens, 1) is in
    *     [3, 10], else 0.5
    * One codegen'd kernel scores each document from one decode
    * ([[graft.functions.GopherKernels.qualityScore]]); a `filter` on
    * the score runs no SQL regex or split. Null text scores 0.625 — the
    * length and stopword parts read 1, punctuation 0, token length 0.5,
    * as SQL `least`/`greatest` skip nulls — so it passes a 0.5 gate.
    */
  def qualityScore(
      text: Column,
      stopwords: Seq[String] = defaultStopwords): Column =
    round(ColumnBridge(graft.functions.QualityScoreExpr(
      ColumnBridge.expression(text), stopwords)), 6)

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on")

  /** Fraction of repeated token `n`-grams in a document: 1 − distinct
    * n-grams / total n-grams. High values flag boilerplate and looping
    * generation (one of the Gopher repetition rules). 0 for docs with
    * fewer than `n` tokens (they contribute one whole-doc gram) and for
    * empty docs. `toks` must be a MATERIALISED token-array column: a
    * computed argument is re-evaluated on every lambda invocation.
    */
  def dupNgramFrac(toks: Column, n: Int = 3): Column = {
    val total = greatest(size(toks) - (n - 1), lit(1)).cast("double")
    val distinctN =
      size(graft.functions.HashFunctions.shingleHashesNative(toks, n)).cast("double")
    when(size(toks) === 0, 0.0).otherwise(lit(1.0) - distinctN / total)
  }

  /** Occurrences of the document's most frequent token over the token
    * count — keyword-spam / degenerate-repetition signal (Gopher-style).
    * 0 for empty docs. Quadratic in the DISTINCT token count per doc,
    * computed entirely inside one narrow codegen'd projection.
    */
  def topTokenFrac(toks: Column): Column =
    // one codegen'd kernel pass (TopTokenCountExpr) — the HOF form
    //   aggregate(array_distinct(toks), 0,
    //     (acc, t) => greatest(acc, size(filter(toks, x => x === t))))
    // is QUADRATIC in the distinct-token count and interpreted;
    // byte-identical output (TextFunctionsSpec pins kernel ≡ HOF)
    when(size(toks) === 0, 0.0).otherwise(
      org.apache.spark.sql.graft.ColumnBridge(
        graft.functions.TopTokenCountExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(toks)))
        .cast("double") / size(toks).cast("double"))

  /** Corpus vocabulary with frequencies: explode normalised tokens,
    * count per word, keep the `topN` most frequent (ties broken
    * alphabetically for determinism). The explode is narrow; the only
    * shuffle is the word-count hash aggregation (partial + final), and
    * the top-N plans as TakeOrderedAndProject — no full sort. The
    * standard vocabulary-building pass of a training pipeline.
    */
  def wordFrequencies(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      topN: Int = 1000): org.apache.spark.sql.DataFrame = {
    require(topN > 0, "wordFrequencies: topN must be positive")
    df.select(explode(normTokens(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(topN)
  }

  /** Language-ID by marker-token voting: for each candidate language,
    * count tokens in its marker list; argmax wins, ties broken by
    * language-code order. N-gram-free heuristic that runs as pure
    * expressions. Profiles are caller-supplied (e.g. per-language
    * function words).
    */
  def langId(text: Column, profiles: Seq[(String, Seq[String])]): Column = {
    val toks = tokens(text)
    val scored = profiles.map { case (lang, markers) =>
      val arr = array(markers.map(lit): _*)
      lang -> size(filter(toks, t => array_contains(arr, t)))
    }
    // argmax with deterministic lang-order tiebreak: fold keeping best
    val best = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
         when(score > bestScore, score).otherwise(bestScore))
    }
    best._1
  }

  /** The major Unicode script classes [[scriptProfile]] measures, as
    * (name, Java regex character class). Declaration order is the
    * dominant-script tiebreak order. */
  val scriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "\\p{IsLatin}",
    "cyrillic" -> "\\p{IsCyrillic}",
    "han" -> "\\p{IsHan}",
    "arabic" -> "\\p{IsArabic}",
    "greek" -> "\\p{IsGreek}",
    "hangul" -> "\\p{IsHangul}",
    "kana" -> "\\p{IsHiragana}\\p{IsKatakana}",
    "digit" -> "0-9")

  /** Per-document Unicode-SCRIPT profile — the char-level routing
    * complement of [[langId]] (marker voting separates languages
    * WITHIN a script; this catches wrong-script and mixed-script docs
    * with no language profiles at all): the fraction of non-whitespace
    * characters in each major script class, plus the dominant script
    * (highest fraction; ties and all-zero rows resolve by
    * [[scriptClasses]] order and to "other" respectively; empty docs
    * report "none"). Pure narrow projection — ONE code-point pass per
    * row ([[graft.functions.ScriptCountsExpr]], a codegen'd kernel
    * classifying all eight classes in a single char loop; semantics
    * identical to one `[^\p{IsXxx}]` regex strip per class), zero
    * exchanges; pipelines with the scan at any corpus size.
    *
    * Staging note: the counts array, the frac columns, and
    * `dominant_script` live in THREE chained selects so each later
    * stage references plain attributes. Folding the argmax into one
    * expression would embed each frac subtree in both the predicate
    * and else branch of every CaseWhen step, duplicating the
    * underlying scan work ~2^8 times — CaseWhen branches are
    * conditionally evaluated, so codegen subexpression elimination
    * cannot deduplicate them (measured 57 s vs 1.6 s for 5 k docs
    * before this split; the kernel then takes the honest 9-regex
    * cost down a further ~4×). */
  def scriptProfile(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // null text profiles as the empty doc ("none"), not as null fracs
    val counts = ColumnBridge(graft.functions.ScriptCountsExpr(
      ColumnBridge.expression(coalesce(col(textCol), lit("")))))
    val staged = df.select(col(idCol), counts.as("__sc"))
    val n = col("__sc").getItem(0)
    val fracd = staged.select(
      col(idCol) +: n.as("n_chars") +:
        scriptClasses.zipWithIndex.map { case ((name, _), i) =>
          when(n === 0, 0.0)
            .otherwise(round(
              col("__sc").getItem(i + 1).cast("double") / n, 6))
            .as(s"${name}_frac")
        }: _*)
    // final stage: argmax over cheap column refs; CaseWhen order = the
    // scriptClasses tie rule (first class with the best frac wins)
    val best = greatest(scriptClasses.map { case (name, _) =>
      col(s"${name}_frac") }: _*)
    val firstBest = scriptClasses.tail.foldLeft(
      when(col(s"${scriptClasses.head._1}_frac") === best,
        lit(scriptClasses.head._1))) { case (acc, (name, _)) =>
      acc.when(col(s"${name}_frac") === best, lit(name))
    }
    val dominant = when(col("n_chars") === 0, "none")
      .when(best === 0.0, "other")
      .otherwise(firstBest)
    fracd.withColumn("dominant_script", dominant)
  }
}
