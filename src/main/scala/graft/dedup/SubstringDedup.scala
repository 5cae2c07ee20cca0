package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fence
import graft.text.TextFunctions.normTokens

/** Cross-document EXACT substring deduplication — remove duplicated
  * spans of ≥ `k` tokens wherever they recur, keeping only the first
  * occurrence (the "deduplicating training data" span-removal op of
  * Lee et al., ACL 2022; cf. rdsa-utils' document-level dedup surface,
  * which this extends below document grain). Repeated boilerplate
  * (headers, licence blocks, templated paragraphs) recurs VERBATIM
  * across documents that are not near-duplicates as wholes — document-
  * level MinHash never sees it; this operator cuts the spans
  * themselves.
  *
  * Mechanics: every doc is cut into its k-token sliding windows; a
  * window occurring more than once corpus-wide (including within one
  * document) is a duplicated span, and every token covered by a
  * non-first duplicated window is removed. "First" is the corpus-wide
  * minimum (doc, start) of the window's occurrences, so exactly one
  * copy of every duplicated region survives and the output is a pure
  * function of the data. Documents shorter than `k` tokens have no
  * windows and pass through unchanged.
  *
  * Scale shape (the suffix-array construction of the paper is a
  * single-machine design; this is the shuffle-native equivalent for
  * window-grain exactness):
  *   1. one narrow pass explodes each doc into (window, doc, start) —
  *      corpus × tokens/doc rows of (8 B hash-key + 16 B position)
  *      after projection;
  *   2. duplicate discovery AND non-first selection are ONE exchange
  *      keyed on the window: whole-partition window functions put each
  *      key's occurrence count and first occurrence next to every
  *      occurrence row, so non-first duplicated occurrences filter in
  *      place (the earlier aggregate + join-back pair exchanged the
  *      window grain twice and planned the window build twice; the
  *      partial-agg combine it lost only compressed within-task
  *      repeats, strictly less than the whole second exchange);
  *   3. only DUPLICATED windows explode into covered token positions
  *      (bounded by dup volume × k, not corpus × k), collect_set-folded
  *      to ONE removal-position array per affected doc;
  *   4. reassembly is a NARROW array filter over the token array —
  *      the removal sets join back at affected-doc grain (AQE
  *      broadcasts them when small) and no corpus-grain token explode,
  *      anti-join, or collect_list exchange exists anywhere (the first
  *      formulation paid all three; the array-filter rewrite measured
  *      4.09 → 3.13 s at the SCALE.md substring_dedup ×1 row).
  * The window key shuffled in step 2 is the window's TOKEN STRING by
  * default, so the decision is exact (no hash-collision false
  * removals); `hashKeys = true` swaps it for the native codegen'd
  * position-preserving window hash ([[graft.functions.HashFunctions
  * .windowHashesNative]]) — 8 B keys through the exchange and no
  * window-string materialisation in the plan at all, at the
  * documented ~2⁻⁶⁴-per-pair collision trade (a collision removes a
  * non-duplicated span). Identical output on collision-free corpora
  * (spec-pinned); measured 1.7× end-to-end at the SCALE.md
  * substring_dedup_hashed rows (3.13 → 1.86 s ×1, 7.53 → 4.92 s ×8) —
  * the key for 100 TB, where the window strings are ~k× the corpus
  * over the wire.
  *
  * Output: (idCol, text_deduped, n_tokens, n_removed), text rebuilt
  * from surviving tokens in position order, single-space joined over
  * the normalised tokenisation.
  */
object SubstringDedup {

  /** (id, non-empty token array) projection shared by every entry. */
  private def tokFrame(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("__sd_id"),
        normTokens(col(textCol)).as("__sd_toks"))
      .filter(size(col("__sd_toks")) > 0)

  /** (doc, 1-based start, window key) rows; key is the window string
    * (exact) or its native k-gram hash (8 B, scale path). */
  private def windowRows(
      toks: DataFrame, k: Int, hashKeys: Boolean): DataFrame = {
    val wins =
      if (hashKeys)
        graft.functions.HashFunctions.windowHashesNative(col("__sd_toks"), k)
      else
        transform(
          sequence(lit(1), size(col("__sd_toks")) - lit(k - 1)),
          st => concat_ws(" ", slice(col("__sd_toks"), st, lit(k))))
    toks
      .filter(size(col("__sd_toks")) >= k)
      .select(col("__sd_id"),
        posexplode(wins).as(Seq("__sd_start0", "__sd_w")))
      .select(col("__sd_id"), (col("__sd_start0") + 1).as("__sd_start"),
        col("__sd_w"))
  }

  def dedupSubstrings(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      hashKeys: Boolean = false): DataFrame = {
    require(k >= 1, s"dedupSubstrings: k must be >= 1, got $k")

    val toks = tokFrame(df, idCol, textCol)
    val windows = windowRows(toks, k, hashKeys)

    // every NON-FIRST occurrence of a corpus-duplicated window, in ONE
    // window-grain exchange: the whole-partition window functions
    // compute each window key's occurrence count and corpus-wide first
    // (minimum (doc, start)) NEXT TO every occurrence row, so non-first
    // occurrences filter out in place. The previous groupBy + join-back
    // formulation (r19 optimization round) exchanged the window grain
    // TWICE (once into the agg, once into the join) and planned the
    // tokenize + window-build subtree twice — at corpus scale that is
    // double the window-grain network and double the kernel CPU
    // (measured on the r19 plan dump: three parquet scans of the corpus,
    // two of them full window builds, collapsed here to two scans / one
    // build — plans/r19/q_substring_dedup_{before,after}.txt).
    val wW = org.apache.spark.sql.expressions.Window.partitionBy("__sd_w")
    // every NON-FIRST occurrence of a duplicated window → its covered
    // 1-based positions, collect_set-folded (set semantics dedup the
    // overlap map-side) to one removal array per affected doc. The
    // rename avoids resolving against toks' shared-lineage attribute.
    val removedSets = windows
      .select(col("__sd_id"), col("__sd_start"),
        count(lit(1)).over(wW).as("__sd_n"),
        min(struct(col("__sd_id"), col("__sd_start"))).over(wW).as("__sd_first"))
      .filter(col("__sd_n") > 1 &&
        !(col("__sd_id") === col("__sd_first.__sd_id") &&
          col("__sd_start") === col("__sd_first.__sd_start")))
      .select(col("__sd_id").as("__sd_rid"),
        explode(sequence(col("__sd_start"), col("__sd_start") + lit(k - 1)))
          .as("__sd_pos1"))
      .groupBy("__sd_rid")
      .agg(collect_set(col("__sd_pos1")).as("__sd_rm"))

    // reassembly is a narrow array filter: keep token i unless i+1 is a
    // removed position; per-element array_contains over the (small)
    // removal set — no token explode, no anti-join, no collect_list
    toks
      .join(removedSets, col("__sd_id") === col("__sd_rid"), "left")
      .select(col("__sd_id").as(idCol),
        concat_ws(" ",
          when(col("__sd_rm").isNull, col("__sd_toks"))
            .otherwise(filter(col("__sd_toks"),
              (_, i) => !array_contains(col("__sd_rm"), i + 1))))
          .as("text_deduped"),
        size(col("__sd_toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__sd_rm")), lit(0)).cast("long").as("n_removed"))
  }

  /** Incremental [[dedupSubstrings]] — clean a NEW batch against an
    * already-ingested BASE corpus: any k-token window of a new doc
    * that appears anywhere in `base` is cut (the base holds the first
    * occurrence by definition), and, when `withinBatch` (default),
    * windows duplicated WITHIN the batch are additionally cut
    * first-occurrence-kept, so ingesting a batch leaves the combined
    * corpus span-deduplicated without ever rewriting base documents.
    *
    * Scale shape — the asymmetry is the point (base ≫ batch): the
    * batch's distinct window keys BROADCAST onto one scan of the
    * base (map-side semi probe — base windows never shuffle), and the
    * matched-key set that comes back is bounded by the batch, not the
    * base. Everything else reuses [[dedupSubstrings]]' machinery:
    * map-side-combined window agg over the BATCH only, collect_set
    * removal arrays, narrow array-filter rebuild. `hashKeys = true`
    * probes with 8 B kernel hashes (the 100 TB key — base window
    * strings never materialise).
    *
    * Output: one row per non-empty new doc —
    * (idCol, text_deduped, n_tokens, n_removed). */
  def dedupSubstringsAgainst(
      base: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      withinBatch: Boolean = true,
      hashKeys: Boolean = false): DataFrame = {
    require(k >= 1, s"dedupSubstringsAgainst: k must be >= 1, got $k")

    // batch-distinct keys broadcast onto ONE base scan; only matched
    // keys (bounded by the batch) come back through an exchange
    val baseKeys = windowRows(tokFrame(base, idCol, textCol), k, hashKeys)
      .select(col("__sd_w"))
    dedupSubstringsAgainstKeys(baseKeys, newDocs, idCol, textCol, k,
      withinBatch, hashKeys)
  }

  /** [[dedupSubstringsAgainst]] with the base corpus pre-reduced to its
    * WINDOW KEYS — the shape an incremental/streaming pipeline holds
    * between runs (e.g. [[graft.streaming.Streaming]]'s substring
    * store): 8 B per distinct base window instead of the base text.
    * `baseKeys`' single column must hold keys built the same way
    * (`hashKeys` and `k` must match the producer); duplicates in it
    * are harmless. Plan shape is [[dedupSubstringsAgainst]]'s —
    * batch-distinct keys broadcast onto one map-side scan of the base
    * keys, the matched set bounded by the batch. */
  def dedupSubstringsAgainstKeys(
      baseKeys: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      withinBatch: Boolean = true,
      hashKeys: Boolean = false): DataFrame =
    dedupAgainstKeysWithBatchKeys(baseKeys, newDocs, idCol, textCol, k,
      withinBatch, hashKeys)._1

  /** [[dedupSubstringsAgainstKeys]] plus the batch's OWN distinct
    * window keys (column `w`, the [[windowKeys]] shape) read off the
    * SAME checkpointed tokenize + window build — the streaming append
    * ([[graft.streaming.Streaming.appendSubstringBatch]]) needs both,
    * and computing the keys through a separate [[windowKeys]] call
    * re-ran the regex tokenize and the window explode over the whole
    * batch a second time per micro-batch (r20 optimization round). */
  private[graft] def dedupAgainstKeysWithBatchKeys(
      baseKeys: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      withinBatch: Boolean = true,
      hashKeys: Boolean = false): (DataFrame, DataFrame) = {
    require(k >= 1, s"dedupSubstringsAgainstKeys: k must be >= 1, got $k")
    require(baseKeys.columns.length == 1,
      s"dedupSubstringsAgainstKeys: baseKeys must have exactly one column, " +
        s"got ${baseKeys.columns.mkString(", ")}")
    // BOTH batch frames are materialised once (r17 verdict item 7):
    // they are batch-bounded by this operator's base ≫ batch contract,
    // and without the fence the token grain re-runs the regex tokenize
    // per consumer (2×) and the window grain re-runs tokenize+explode
    // per consumer (up to 4×: the key probe, the vs-base semi, the
    // within-batch agg and its rejoin)
    val newToks = Fence(tokFrame(newDocs, idCol, textCol),
      "dedupAgainstKeys.tokens").df // the window grain + rebuild join
    val newWindows = Fence(windowRows(newToks, k, hashKeys),
      "dedupAgainstKeys.windows").df // up to 4 subtrees below
    val newKeys = newWindows.select(col("__sd_w")).distinct()
    val matched = baseKeys
      .select(col(baseKeys.columns.head).as("__sd_w"))
      .join(broadcast(newKeys), Seq("__sd_w"), "left_semi")
      .select(col("__sd_w")).distinct()

    // every new-window occurrence matching base is removed; within the
    // batch, non-first duplicates are removed too (first survives —
    // unless the base also holds the span, in which case all copies go)
    val vsBase = newWindows
      .join(matched, Seq("__sd_w"), "left_semi")
      .select(col("__sd_id"), col("__sd_start"))
    val removedOcc =
      if (!withinBatch) vsBase
      else {
        // non-first within-batch occurrences in ONE exchange of the
        // (checkpointed, batch-bounded) window grain — the same
        // window-function contraction as dedupSubstrings, replacing
        // the groupBy + join-back pair of exchanges
        val wW = org.apache.spark.sql.expressions.Window
          .partitionBy("__sd_w")
        val inBatch = newWindows
          .select(col("__sd_id"), col("__sd_start"),
            count(lit(1)).over(wW).as("__sd_n"),
            min(struct(col("__sd_id"), col("__sd_start")))
              .over(wW).as("__sd_first"))
          .filter(col("__sd_n") > 1 &&
            !(col("__sd_id") === col("__sd_first.__sd_id") &&
              col("__sd_start") === col("__sd_first.__sd_start")))
          .select(col("__sd_id"), col("__sd_start"))
        vsBase.union(inBatch)
      }
    val removedSets = removedOcc
      .select(col("__sd_id").as("__sd_rid"),
        explode(sequence(col("__sd_start"), col("__sd_start") + lit(k - 1)))
          .as("__sd_pos1"))
      .groupBy("__sd_rid")
      .agg(collect_set(col("__sd_pos1")).as("__sd_rm"))

    val cleaned = newToks
      .join(removedSets, col("__sd_id") === col("__sd_rid"), "left")
      .select(col("__sd_id").as(idCol),
        concat_ws(" ",
          when(col("__sd_rm").isNull, col("__sd_toks"))
            .otherwise(filter(col("__sd_toks"),
              (_, i) => !array_contains(col("__sd_rm"), i + 1))))
          .as("text_deduped"),
        size(col("__sd_toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__sd_rm")), lit(0)).cast("long").as("n_removed"))
    (cleaned, newKeys.select(col("__sd_w").as("w")))
  }

  /** Distinct window keys of a corpus — what an incremental pipeline
    * persists between runs (feed back via
    * [[dedupSubstringsAgainstKeys]]). */
  def windowKeys(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      hashKeys: Boolean = false): DataFrame =
    windowRows(tokFrame(docs, idCol, textCol), k, hashKeys)
      .select(col("__sd_w").as("w")).distinct()

  /** Span-level duplication profile WITHOUT rewriting text: per doc,
    * window counts and the fraction of its k-token windows that are
    * corpus-duplicated (in any position) — the cheap diagnostic pass a
    * pipeline runs to decide whether [[dedupSubstrings]] is worth a
    * full rewrite, and the per-doc boilerplate score usable as a
    * quality filter on its own. Docs with fewer than `k` tokens report
    * zero windows. Output: (idCol, n_windows, n_dup_windows,
    * dup_fraction rounded 6 dp). */
  def substringDupProfile(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      hashKeys: Boolean = false): DataFrame = {
    require(k >= 1, s"substringDupProfile: k must be >= 1, got $k")
    val toks = tokFrame(df, idCol, textCol)
    val windows = windowRows(toks, k, hashKeys)
      .select(col("__sd_id"), col("__sd_w"))
    // corpus-duplicated occurrences in ONE window-grain exchange: the
    // whole-partition count sits next to every occurrence row, so the
    // dup filter needs no aggregate + semi-join-back pair (which
    // exchanged the window grain twice and built the window subtree
    // twice — the r19 dedupSubstrings contraction applied here)
    val wW = org.apache.spark.sql.expressions.Window.partitionBy("__sd_w")
    val perDoc = windows
      .select(col("__sd_id"), count(lit(1)).over(wW).as("__sd_n"))
      .filter(col("__sd_n") > 1)
      .groupBy("__sd_id").agg(count(lit(1)).as("n_dup_windows"))
    toks
      .select(col("__sd_id"),
        greatest(size(col("__sd_toks")) - lit(k - 1), lit(0))
          .cast("long").as("n_windows"))
      .join(perDoc, Seq("__sd_id"), "left")
      .select(col("__sd_id").as(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        when(col("n_windows") === 0, 0.0)
          .otherwise(round(coalesce(col("n_dup_windows"), lit(0L)) /
            col("n_windows").cast("double"), 6)).as("dup_fraction"))
  }
}
