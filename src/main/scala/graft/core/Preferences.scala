package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** Preference-pair (RLHF / reward-model) data hygiene — the checks a
  * (prompt, chosen, rejected) dataset needs before reward training:
  * length-bias audit (RMs notoriously learn "longer = better" when the
  * chosen side is systematically longer — public finding across the
  * RLHF literature), prompt-grain dedup, and prompt leakage across
  * train/eval splits (a shared prompt leaks preference signal even
  * when the responses differ).
  *
  * All operators are thin compositions of the library's primitives —
  * narrow token counting (codegen'd), hash-window dedup, and
  * fingerprint-grain aggregation — so every one is exactly
  * SQL-replayable and inherits the underlying scale shapes.
  */
object Preferences {

  /** Per-pair length comparison plus the dataset-level bias audit:
    * one row per pair with token counts and the delta, for
    * downstream filtering; aggregate with [[lengthBiasSummary]]. */
  def pairLengths(
      pairs: DataFrame,
      idCol: String,
      chosenCol: String,
      rejectedCol: String): DataFrame =
    pairs.select(col(idCol),
      TextFunctions.tokenCount(col(chosenCol)).cast("long").as("chosen_tokens"),
      TextFunctions.tokenCount(col(rejectedCol)).cast("long").as("rejected_tokens"))
      .withColumn("len_delta", col("chosen_tokens") - col("rejected_tokens"))

  /** The one-row length-bias report: pair count, fraction of pairs
    * whose chosen side is strictly longer, and the mean token delta
    * (6 dp). A healthy dataset sits near 0.5 / 0; a strongly positive
    * pair is a reward-hacking risk flag. One global aggregate. */
  def lengthBiasSummary(
      pairs: DataFrame,
      idCol: String,
      chosenCol: String,
      rejectedCol: String): DataFrame =
    pairLengths(pairs, idCol, chosenCol, rejectedCol).agg(
      count(lit(1)).as("n_pairs"),
      round(avg(when(col("len_delta") > 0, 1.0).otherwise(0.0)), 6)
        .as("frac_chosen_longer"),
      round(avg(col("len_delta").cast("double")), 6).as("mean_len_delta"))

  /** Prompt-grain exact dedup: keep the minimum-id pair per normalised
    * prompt — duplicated prompts over-weight their preference signal
    * and leak between epochs. Same hash-window exchange as
    * [[graft.dedup.Dedup.exactDedup]]. */
  def dedupByPrompt(
      pairs: DataFrame,
      promptCol: String,
      idCol: String): DataFrame =
    graft.dedup.Dedup.exactDedup(pairs, promptCol, idCol)

  /** Prompt leakage across splits: one row per normalised prompt that
    * appears in MORE than one split, with the split count and pair
    * count — the audit that catches preference signal shared between
    * train and eval. Exchange at prompt-fingerprint grain (two
    * map-side-combinable aggregates). */
  def promptLeakageAcrossSplits(
      pairs: DataFrame,
      promptCol: String,
      splitCol: String): DataFrame =
    pairs.select(
        TextFunctions.fingerprint(col(promptCol)).as("prompt_fp"),
        col(splitCol).as("split"))
      .groupBy("prompt_fp")
      .agg(countDistinct(col("split")).as("n_splits"),
        count(lit(1)).as("n_pairs"))
      .filter(col("n_splits") > 1)

  /** Cohen's kappa between two annotators labelling the same items —
    * the chance-corrected agreement a preference-data review quotes
    * before trusting labels: κ = (p_o − p_e) / (1 − p_e), where p_o
    * is the observed agreement rate and p_e = Σ_c p₁(c)·p₂(c) the
    * agreement expected from each rater's marginal label
    * distribution. Rows where either label is null are excluded
    * (both raters must have answered). Returns one row
    * (n_items, observed_agreement, expected_agreement, kappa);
    * perfect-chance-agreement frames (p_e = 1) report κ = 0 by the
    * 0/0 convention. Scale shape: one label-pair-grain aggregation
    * (|labels|² rows) then driver-free arithmetic on that tiny frame
    * — the item table is never exchanged twice. */
  def cohenKappa(
      df: DataFrame,
      raterACol: String,
      raterBCol: String): DataFrame = {
    val labelled = df
      .filter(col(raterACol).isNotNull && col(raterBCol).isNotNull)
      .select(col(raterACol).cast("string").as("a"),
        col(raterBCol).cast("string").as("b"))
    // one pass to (a, b) grain; marginals and agreement both derive
    // from this tiny contingency frame
    val cells = labelled.groupBy("a", "b").agg(count(lit(1)).as("n"))
    cells.agg(
        sum(col("n")).as("n_items"),
        sum(when(col("a") === col("b"), col("n")).otherwise(0L)).as("agree"))
      .crossJoin(
        // p_e from the same cells frame: join A-marginals to
        // B-marginals on label (labels² rows at most). The na*nb
        // products are summed in DOUBLE: long arithmetic overflows
        // silently past ~3e9 labelled items (the corpus scale this
        // module advertises), and the 6-dp rounding downstream makes
        // double precision loss irrelevant.
        cells.groupBy(col("a").as("lbl")).agg(sum(col("n")).as("na"))
          .join(cells.groupBy(col("b").as("lbl")).agg(sum(col("n")).as("nb")),
            Seq("lbl"), "inner")
          .agg(sum(col("na").cast("double") * col("nb").cast("double"))
            .as("pe_num")))
      .select(
        col("n_items"),
        round(col("agree").cast("double") / col("n_items"), 6)
          .as("observed_agreement"),
        round(col("pe_num") /
          (col("n_items").cast("double") * col("n_items").cast("double")), 6)
          .as("expected_agreement"),
        round(
          when(col("pe_num") ===
              col("n_items").cast("double") * col("n_items").cast("double"), 0.0)
            .otherwise(
              (col("agree").cast("double") / col("n_items") -
                col("pe_num") /
                  (col("n_items").cast("double") * col("n_items").cast("double"))) /
              (lit(1.0) -
                col("pe_num") /
                  (col("n_items").cast("double") * col("n_items").cast("double")))),
          6).as("kappa"))
  }

  /** Per-model win/loss leaderboard from (model_a, model_b, winner)
    * battles (`winner` ∈ {"a","b"}; other values — ties, both-bad —
    * count as battles without a win). One explode to
    * (model, won) grain then a model-grain aggregation. */
  def winRates(
      battles: DataFrame,
      modelACol: String,
      modelBCol: String,
      winnerCol: String): DataFrame =
    battles.select(explode(array(
        struct(col(modelACol).as("model"),
          when(col(winnerCol) === "a", 1L).otherwise(0L).as("won")),
        struct(col(modelBCol).as("model"),
          when(col(winnerCol) === "b", 1L).otherwise(0L).as("won"))))
        .as("e"))
      .select(col("e.model").as("model"), col("e.won").as("won"))
      .groupBy("model")
      .agg(count(lit(1)).as("n_battles"), sum(col("won")).as("n_wins"))
      .withColumn("win_rate",
        round(col("n_wins").cast("double") / col("n_battles"), 6))

  /** Bradley–Terry strengths from pairwise battles via `iters`
    * minorisation–maximisation updates (Hunter 2004 — the public MM
    * algorithm behind arena leaderboards):
    * s_i ← W_i / Σ_j n_ij / (s_i + s_j), renormalised to mean 1 each
    * step, from a uniform start. Ties/other winner values contribute
    * games but no wins.
    *
    * Scale shape: the battle table collapses FIRST to the unordered
    * model-pair grain (n_ij, wins_i, wins_j) — one aggregation over
    * the corpus, models² rows out — and the MM loop then iterates on
    * that tiny localCheckpointed frame only, so iteration cost is
    * independent of battle count. Returns
    * (model, n_battles, n_wins, bt_score) with bt_score at 6 dp. */
  def bradleyTerryScores(
      battles: DataFrame,
      modelACol: String,
      modelBCol: String,
      winnerCol: String,
      iters: Int = 4): DataFrame = {
    require(iters >= 1, s"bradleyTerryScores: iters must be >= 1, got $iters")
    val spark = battles.sparkSession
    // unordered pair grain: (lo, hi, games, wins_lo)
    val lo = least(col(modelACol), col(modelBCol))
    val hi = greatest(col(modelACol), col(modelBCol))
    val winLo = when(
      (col(winnerCol) === "a" && col(modelACol) === lo) ||
        (col(winnerCol) === "b" && col(modelBCol) === lo), 1L).otherwise(0L)
    val pairStats = battles
      .select(lo.as("lo"), hi.as("hi"), winLo.as("win_lo"),
        when(col(winnerCol).isin("a", "b"), 1L).otherwise(0L).as("win_any"))
      .groupBy("lo", "hi")
      .agg(count(lit(1)).as("games"), sum(col("win_lo")).as("wins_lo"),
        sum(col("win_any")).as("wins_any"))
      .transform(Fence(_, "bradleyTerryScores.pairs").df) // models² rows; cut the corpus lineage once
    // per-model directed view: (model, opp, games, wins)
    val directed = pairStats.select(col("lo").as("model"), col("hi").as("opp"),
        col("games"), col("wins_lo").as("wins"))
      .unionByName(pairStats.select(col("hi").as("model"), col("lo").as("opp"),
        col("games"), (col("wins_any") - col("wins_lo")).as("wins")))
      .transform(Fence(_, "bradleyTerryScores.directed").df)
    val models = directed.groupBy("model")
      .agg(sum(col("games")).as("n_battles"), sum(col("wins")).as("n_wins"))
      .transform(Fence(_, "bradleyTerryScores.models").df)
    var scores = models.select(col("model"), lit(1.0).as("s"))
    for (_ <- 1 to iters) {
      val sOpp = scores.select(col("model").as("opp"), col("s").as("s_opp"))
      // zero-strength pairs (two never-winners who met) would divide
      // by zero — under ANSI that ABORTS the job, not just NaNs. Their
      // MM term contributes nothing (both strengths are at the zero
      // fixed point), and a model whose denominator is entirely
      // skipped has zero wins, so its update is the 0.0 fixed point.
      val updated = directed
        .join(scores, Seq("model")).join(sOpp, Seq("opp"))
        .groupBy("model")
        .agg(sum(when(col("s") + col("s_opp") > 0.0,
          col("games").cast("double") / (col("s") + col("s_opp")))
          .otherwise(0.0)).as("denom"))
        .join(models.select(col("model"), col("n_wins")), Seq("model"))
        .select(col("model"),
          when(col("denom") > 0.0,
            col("n_wins").cast("double") / col("denom"))
            .otherwise(0.0).as("s_raw"))
      val mean = updated.agg(avg(col("s_raw")).as("m"))
      // degenerate all-ties log: every s_raw is 0, the mean is 0, and
      // bare renormalisation would emit NaN (0/0) for every model —
      // keep the zeros instead (BT is undefined with no wins anywhere;
      // 0.0 is the honest fixed point, and scores stay non-NaN)
      scores = updated.crossJoin(broadcast(mean))
        .select(col("model"),
          when(col("m") > 0.0, col("s_raw") / col("m"))
            .otherwise(col("s_raw")).as("s"))
        .transform(Fence(_, "bradleyTerryScores.step").df)
    }
    models.join(scores, Seq("model"))
      .select(col("model"), col("n_battles"), col("n_wins"),
        round(col("s"), 6).as("bt_score"))
  }
}
