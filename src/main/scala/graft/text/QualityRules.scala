package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher-style hard quality GATES (the MassiveWeb repetition-free
  * document rules published with the Gopher model): unlike
  * [[TextFunctions.qualityScore]]'s soft composite, each rule here is
  * a named boolean a curation pipeline reports on and gates with
  * individually — the shape quality-filter ablations need.
  *
  * One narrow codegen pass per document (token array built once and
  * shared), no shuffle; the composed `pass` predicate pushes to the
  * scan when used as a filter. Thresholds are the published defaults,
  * overridable per call. All rules are whitespace-token-grain and
  * exactly SQL-replayable.
  */
object QualityRules {

  /** The Gopher stopword list ("contains at least `minStopwords` of
    * these" is the natural-language-ness gate). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-document rule flags + the conjunction, as named columns:
    *
    *   - `r_word_count`  `minWords <= n <= maxWords`
    *   - `r_mean_word_len`  mean token length in [3, 10]
    *   - `r_symbol_ratio`  (# + ellipsis) / words <= 0.1
    *   - `r_alpha_words`  >= 80% of tokens contain a letter
    *   - `r_bullet_lines`  <= 90% of lines start with a bullet
    *   - `r_ellipsis_lines`  <= 30% of lines end with an ellipsis
    *   - `r_stopwords`  >= `minStopwords` distinct gopher stopwords
    *   - `gopher_pass`  all of the above
    *
    * Null text is treated as the empty document: it fails the
    * count-shaped rules (`r_word_count`, `r_mean_word_len`,
    * `r_alpha_words`, `r_stopwords`) and therefore `gopher_pass`, but
    * the ratio caps (`r_symbol_ratio`, `r_bullet_lines`,
    * `r_ellipsis_lines`) evaluate TRUE (0 symbols / 0 lines is under
    * every cap) — so [[gopherReport]]'s per-rule fail counts tally
    * null docs only under the count-shaped rules. All flags are
    * non-null booleans, so the frame filters and aggregates without
    * three-valued-logic traps.
    *
    * Plan shape: the token and line arrays are materialized ONCE
    * behind a [[graft.core.DataFrameOps.stageFence]] and every rule
    * references them as plain attributes. Without the fence, using
    * the conjunction as a FILTER lets predicate pushdown substitute
    * each rule's full split/regex tree into the pushed predicate, and
    * Filter conjuncts short-circuit so codegen subexpression
    * elimination cannot share the re-splits across rules (measured
    * 3.7 s vs 1.6 s on the composed q_pipeline_web chain).
    *
    * FENCE COST — wide input tables: column pruning cannot cross the
    * fence's CollectMetrics node, so every input column is scanned
    * even if the caller keeps only `gopher_pass` downstream. On a
    * wide table, pre-select the columns you need (doc id + text)
    * BEFORE calling; on the text-dominated frames this operator
    * exists for, the text column is the scan cost and the fence
    * changes nothing.
    */
  def gopherFlags(
      df: DataFrame,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minStopwords: Int = 2): DataFrame = {
    val reserved = Seq("__gf_sig")
    graft.core.DataFrameOps.requireNoReserved(df, reserved, "gopherFlags")
    // every rule input comes from ONE codegen'd kernel walk over the
    // document (GopherSignalsExpr) — the HOF formulation dispatched
    // five interpreted higher-order expressions per doc (token-length
    // aggregate, three regex filters, the stopword intersect; see the
    // kernel scaladoc). The rule arithmetic below is unchanged, so
    // the booleans are byte-identical (QualityRulesSpec pins parity
    // against the HOF build). The fence still materialises the kernel
    // column once: a pushed-down `gopher_pass` filter would otherwise
    // substitute the kernel per conjunct.
    val staged = graft.core.DataFrameOps.stageFence(
      df.withColumn("__gf_sig", org.apache.spark.sql.graft.ColumnBridge(
        graft.functions.GopherSignalsExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            coalesce(col(textCol), lit(""))),
          gopherStopwords))))
    val sig = col("__gf_sig")
    val nTok = sig("n_tok").cast("double")
    val safeN = greatest(nTok, lit(1.0))
    val nLines = greatest(sig("n_lines").cast("double"), lit(1.0))

    val wordCountOk = nTok.between(minWords.toDouble, maxWords.toDouble)
    val meanLen = sig("len_sum").cast("double") / safeN
    val meanLenOk = nTok > 0 && meanLen.between(3.0, 10.0)
    val symbols = sig("n_hash").cast("double") +
      sig("n_ellipsis_text").cast("double")
    val symbolOk = symbols / safeN <= 0.1
    val alphaFrac = sig("n_alpha").cast("double") / safeN
    val alphaOk = nTok > 0 && alphaFrac >= 0.8
    val bulletFrac = sig("n_bullet").cast("double") / nLines
    val bulletOk = bulletFrac <= 0.9
    val ellipsisFrac = sig("n_ellipsis_lines").cast("double") / nLines
    val ellipsisOk = ellipsisFrac <= 0.3
    val stopOk = sig("n_stop") >= minStopwords

    staged.withColumn("r_word_count", wordCountOk)
      .withColumn("r_mean_word_len", meanLenOk)
      .withColumn("r_symbol_ratio", symbolOk)
      .withColumn("r_alpha_words", alphaOk)
      .withColumn("r_bullet_lines", bulletOk)
      .withColumn("r_ellipsis_lines", ellipsisOk)
      .withColumn("r_stopwords", stopOk)
      .withColumn("gopher_pass",
        wordCountOk && meanLenOk && symbolOk && alphaOk &&
          bulletOk && ellipsisOk && stopOk)
      .drop(reserved: _*)
  }

  /** Keep only documents passing every Gopher rule — the gate form. */
  def gopherFilter(
      df: DataFrame,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minStopwords: Int = 2): DataFrame = {
    val flagged = gopherFlags(df, textCol, minWords, maxWords, minStopwords)
    flagged.where(col("gopher_pass"))
      .drop("r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_alpha_words", "r_bullet_lines", "r_ellipsis_lines",
        "r_stopwords", "gopher_pass")
  }

  /** Corpus-level rule report: documents failing each rule plus the
    * overall pass rate — the one-row artifact a filter-ablation run
    * records. Single global aggregate over the flag pass. */
  def gopherReport(
      df: DataFrame,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minStopwords: Int = 2): DataFrame = {
    val f = gopherFlags(df, textCol, minWords, maxWords, minStopwords)
    def fails(c: String) = sum(when(!col(c), 1L).otherwise(0L)).as(s"fail_${c.stripPrefix("r_")}")
    f.agg(
      count(lit(1)).as("n_docs"),
      fails("r_word_count"), fails("r_mean_word_len"),
      fails("r_symbol_ratio"), fails("r_alpha_words"),
      fails("r_bullet_lines"), fails("r_ellipsis_lines"),
      fails("r_stopwords"),
      round(avg(when(col("gopher_pass"), 1.0).otherwise(0.0)), 6)
        .as("pass_rate"))
  }
}
