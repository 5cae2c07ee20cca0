package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.core.DataFrameOps.requireNoReserved
import graft.text.TextFunctions.normTokens

/** Term-relevance operators for corpus analytics and retrieval-shaped
  * training-data work: TF-IDF weighting, BM25 ranked search, inverted
  * index construction, and bigram collocation mining (PMI).
  *
  * Design for 100 TB:
  *   - Tokenisation is a narrow codegen'd projection (no UDFs); the
  *     only wide stages are hash aggregations on (doc, term) / term
  *     keys, all with map-side partial aggregation, so shuffle volume
  *     is bounded by the DISTINCT (doc, term) count, not token count.
  *   - Term-level side tables (document frequencies, unigram counts)
  *     are vocabulary-sized — orders of magnitude smaller than the
  *     corpus — so AQE converts the joins back onto them to broadcast
  *     joins at runtime; nothing here forces a sort-merge.
  *   - BM25 filters the exploded tokens to the query's terms BEFORE
  *     the (doc, term) aggregation: the per-query shuffle carries only
  *     matching postings, not the corpus vocabulary.
  *   - All floating-point outputs are rounded at the edge (6 dp) so
  *     results are engine-portable and oracle-checkable.
  *
  * Reference scope: rdsa-utils has no retrieval ops; this family is
  * part of the LLM-pipeline extension surface (SURVEY.md §6).
  */
object Relevance {

  /** Per-document term frequencies over whitespace tokens of the
    * normalised text: (idCol, word, tf). One shuffle, keyed on
    * (idCol, word), partial-aggregated map-side. */
  def docTermFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(normTokens(col(textCol))).as("word"))
      .groupBy(idCol, "word")
      .agg(count(lit(1)).as("tf"))

  /** TF-IDF weights per (document, term):
    * `tfidf = tf · ln(N / df)` with `df` = number of documents
    * containing the term and `N` = corpus size.
    *
    * Plan: tf aggregation on (doc, word) → df aggregation on word
    * (vocabulary-sized) → join back on word. The df side is tiny
    * relative to the corpus, so AQE broadcasts it; `N` rides as a
    * broadcast 1-row frame off a count-star scalar aggregate inside
    * the SAME job (the former `df.count()` was a synchronous driver
    * action — one extra scheduled corpus-scan job per call, the r19
    * bigramPmi lesson applied here; guide §5).
    *
    * `minDf` drops hapax-style noise terms before the join (and
    * shrinks the join's build side). Output columns:
    * (idCol, word, tf, df_docs, tfidf). */
  def tfIdf(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Long = 1L): DataFrame = {
    require(minDf >= 1, s"tfIdf: minDf must be >= 1, got $minDf")
    requireNoReserved(df, Seq("__graft_n_docs"), "tfIdf")
    // count(1) cast double ≡ the old nDocs.toDouble (counts are exact
    // in double far beyond any corpus size). The count-star subtree
    // re-runs `df`'s upstream plan inside this job: a column-pruned
    // scan for a bare parquet read, the full derivation for a derived
    // frame (checkpoint an expensive `df` before calling)
    val nDocs = df.agg(count(lit(1)).cast("double").as("__graft_n_docs"))
    val tf = docTermFrequencies(df, idCol, textCol)
    val docFreqAll = tf.groupBy("word").agg(count(lit(1)).as("df_docs"))
    // df_docs >= 1 holds by construction — skip the vacuous Filter node
    val docFreq =
      if (minDf > 1L) docFreqAll.filter(col("df_docs") >= minDf) else docFreqAll
    tf.join(docFreq, "word")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("word"), col("tf"), col("df_docs"),
        round(col("tf") * log(col("__graft_n_docs") / col("df_docs")), 6).as("tfidf"))
  }

  /** BM25 ranked retrieval: score every document against a bag of
    * query terms and return the top `k`.
    *
    * `score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))`
    * with the standard `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`.
    *
    * Scale discipline: the exploded token stream is filtered to the
    * query's terms FIRST, so the (doc, term) aggregation and every
    * stage after it carry only matching postings — for selective
    * queries that is a ~vocabulary-fold cut in shuffle volume versus
    * scoring the full tf matrix. Doc lengths are a narrow projection;
    * `avgdl` and `N` are one scalar aggregate. The final top-k plans
    * as TakeOrderedAndProject (no global sort).
    *
    * Scores are rounded to 6 dp BEFORE ranking and tie-broken by
    * document id, so the returned top-k is engine-portable.
    * Output: (idCol, score), descending. */
  def bm25TopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: need at least one query term")
    require(k > 0, s"bm25TopK: k must be positive, got $k")
    val terms = queryTerms.map(_.toLowerCase).distinct

    val toks = df.select(col(idCol), normTokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    // N and avgdl in ONE scalar-aggregate job (they were two scans);
    // avg over an empty corpus is null — return an empty (id, score)
    // frame instead of NPE-ing on getDouble
    val statsRow = toks.agg(count(lit(1)).cast("double"), avg("dl")).head()
    if (statsRow.isNullAt(1))
      return df.select(col(idCol), lit(0.0).as("score")).limit(0)
    val (nDocs, avgdl) = (statsRow.getDouble(0), statsRow.getDouble(1))

    val termArr = array(terms.map(lit): _*)
    val postings = toks
      .select(col(idCol), col("dl"),
        explode(filter(col("toks"), t => array_contains(termArr, t))).as("word"))
      .groupBy(col(idCol), col("dl"), col("word"))
      .agg(count(lit(1)).cast("double").as("tf"))
    // dl rides the grouping key (it is functionally dependent on the id),
    // saving a join back onto docLen
    val docFreq = postings.groupBy("word").agg(count(lit(1)).cast("double").as("dfd"))

    val idf = log(lit(1.0) + (lit(nDocs) - col("dfd") + 0.5) / (col("dfd") + 0.5))
    val norm = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))
    postings.join(docFreq, "word")
      .groupBy(idCol)
      .agg(round(sum(idf * col("tf") * lit(k1 + 1.0) / norm), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Inverted index: term → sorted posting list of document ids, with
    * document frequency. `maxDfFrac` drops terms appearing in more
    * than that fraction of documents (stopword-class terms whose
    * posting lists would otherwise approach corpus size — the
    * standard df cap that keeps per-term state bounded at scale);
    * `minDf` drops hapax noise.
    *
    * Plan: distinct (word, doc) pairs (one shuffle, map-side
    * combined) → per-word collect_list + sort. Posting lists are the
    * op's OUTPUT, so their size is inherent — the df cap is the knob
    * that bounds the worst key. Output:
    * (word, df_docs, postings: array&lt;long&gt; sorted ascending). */
  def invertedIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Long = 1L,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"invertedIndex: maxDfFrac must be in (0, 1], got $maxDfFrac")
    requireNoReserved(df, Seq("__graft_max_df"), "invertedIndex")
    val postings = df
      .select(col(idCol), explode(normTokens(col(textCol))).as("word"))
      .distinct()
      .groupBy("word")
      .agg(sort_array(collect_list(col(idCol).cast("long"))).as("postings"))
      .withColumn("df_docs", size(col("postings")).cast("long"))
    // the df cap rides as a broadcast 1-row frame — `floor(count * frac)`
    // is the exact arithmetic of the old driver-side
    // `math.floor(df.count() * maxDfFrac).toLong` (long → double promote,
    // floor, long), without the synchronous extra corpus-scan job
    // (guide §5, the bigramPmi/tfIdf move). At maxDfFrac = 1 the cap is
    // vacuous (df_docs ≤ N by construction) and no count is planned.
    val filtered =
      if (maxDfFrac >= 1.0) postings.filter(col("df_docs") >= minDf)
      else postings
        .crossJoin(broadcast(df.agg(
          floor(count(lit(1)) * lit(maxDfFrac)).as("__graft_max_df"))))
        .filter(col("df_docs") >= minDf &&
          col("df_docs") <= col("__graft_max_df"))
    filtered.select("word", "df_docs", "postings")
  }

  /** Bigram collocations scored by pointwise mutual information:
    * `pmi(x,y) = ln( p(x y) / (p(x)·p(y)) )` over adjacent-token
    * bigrams, keeping pairs seen at least `minCount` times. The
    * standard phrase-mining pass (e.g. for merging multi-word
    * entities before tokenisation).
    *
    * Bigrams are built inside one codegen'd projection (transform
    * over the token array — no self-join); counts are two hash
    * aggregations (bigrams, unigrams) and the unigram side is
    * vocabulary-sized, so both joins back onto it broadcast under
    * AQE. Output: (w1, w2, n, pmi) with pmi rounded to 6 dp. */
  def bigramPmi(
      df: DataFrame,
      textCol: String,
      minCount: Long = 2L): DataFrame = {
    require(minCount >= 1, s"bigramPmi: minCount must be >= 1, got $minCount")
    val toks = df.select(normTokens(col(textCol)).as("toks"))
    // bigram events via the codegen'd BigramPairsExpr kernel (the
    // same move as explodedBigrams below) — the previous
    // transform(sequence, concat(element_at×2)) was an interpreted
    // ArrayTransform per row. Grouping on (w1, w2) is equivalent to
    // grouping the "w1 w2" strings (tokens cannot contain
    // whitespace), so counts, the min-count prune and the output
    // rows are identical (RelevanceSpec's hand-computed PMI pins it).
    val bigramPairs = toks.where(size(col("toks")) >= 2)
      .select(explode(ColumnBridge(graft.functions.BigramPairsExpr(
        ColumnBridge.expression(col("toks"))))).as("__pr"))
      .select(col("__pr.prev").as("w1"), col("__pr.w").as("w2"))
    val uni = toks.select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("double").as("c"))
    // both totals ride as broadcast 1-row frames computed FROM the two
    // aggregates the query already builds — their scalar aggregations
    // share the groupBy exchanges via ReusedExchange, so each corpus
    // tokenize+explode pass is planned exactly once and no synchronous
    // driver action (the old `.head()` / `.count()` totals, two extra
    // corpus-pass jobs) sits in the operator (r19 optimization round).
    // Probabilities are over ALL bigram occurrences, so the bigram
    // total sums counts BEFORE the min-count prune.
    val uniTotal = uni
      .agg(coalesce(sum(col("c")), lit(1.0)).as("__graft_t_uni"))
    val bigCounts = bigramPairs.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val bigTotal = bigCounts
      .agg(greatest(coalesce(sum(col("n")), lit(0L)), lit(1L))
        .cast("double").as("__graft_t_big"))
    val big = bigCounts.filter(col("n") >= minCount)
    big
      .join(uni.withColumnRenamed("word", "w1").withColumnRenamed("c", "c1"), "w1")
      .join(uni.withColumnRenamed("word", "w2").withColumnRenamed("c", "c2"), "w2")
      .crossJoin(broadcast(uniTotal))
      .crossJoin(broadcast(bigTotal))
      .select(col("w1"), col("w2"), col("n"),
        round(log((col("n") / col("__graft_t_big")) /
          ((col("c1") / col("__graft_t_uni")) *
            (col("c2") / col("__graft_t_uni")))), 6).as("pmi"))
  }

  /** Unigram-LM perplexity quality score (the CCNet-style filter):
    * train an add-α smoothed unigram model — on the corpus itself, or
    * on `lmCounts` (a `(word, c)` frame from a reference corpus, e.g.
    * Wikipedia token counts) — and score every document by
    * `exp(−Σ n_w·ln p(w) / Σ n_w)`. Low perplexity ≈ fluent,
    * in-distribution text; the extremes (boilerplate at the bottom,
    * garbage at the top) are what the filter cuts. Output:
    * `(idCol, n_tokens, perplexity)` (6 dp); empty documents score
    * null.
    *
    * Scale shape: per-(doc, word) counts first, so the vocabulary join
    * moves doc-DISTINCT-term rows, not one row per token occurrence;
    * the vocabulary aggregate is word-cardinality; N and V ride in a
    * broadcast 1-row frame. No window, no collect. */
  def unigramPerplexity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      alpha: Double = 1.0,
      lmCounts: Option[DataFrame] = None): DataFrame = {
    require(alpha > 0.0, s"unigramPerplexity: alpha must be > 0, got $alpha")
    val dt = docTermFrequencies(df, idCol, textCol)
      .withColumnRenamed("tf", "nd")
    val vocab = lmCounts.getOrElse(
      dt.groupBy("word").agg(sum("nd").as("c")))
    val stats = vocab.agg(sum("c").as("__N"), count(lit(1)).as("__V"))
    // LEFT join: with an external LM, out-of-vocabulary words take the
    // unseen mass α/(N + αV) instead of silently dropping
    val scored = dt.join(vocab, Seq("word"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("__lp",
        log((coalesce(col("c"), lit(0L)) + lit(alpha)) /
          (col("__N") + lit(alpha) * col("__V"))))
      .groupBy(idCol)
      .agg(sum("nd").as("n_tokens"),
        round(exp(-sum(col("nd") * col("__lp")) / sum(col("nd"))), 6)
          .as("perplexity"))
    df.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
  }

  /** Interpolated bigram-LM perplexity — the next rung of the CCNet
    * quality ladder above [[unigramPerplexity]] (KenLM-style filters
    * use 5-grams; the bigram model is the Jelinek-Mercer-interpolated
    * version whose semantics stay exactly oracle-checkable):
    * `p(w | prev) = λ·c(prev,w)/c(prev,·) + (1−λ)·(c(w)+α)/(N+αV)`,
    * scored as `exp(−Σ ln p / (n−1))` over a document's `n−1` ordered
    * bigram events. Trains on the scored corpus itself, or scores
    * against an EXTERNAL reference LM (`lmBigrams` = (prev, w, cbw),
    * `lmUnigrams` = (w, c) — e.g. counts from a held-out clean corpus,
    * the production CCNet shape): out-of-LM bigrams degrade to the
    * smoothed unigram term, out-of-LM words take the unseen mass
    * α/(N+αV), so the mix stays nonzero for any λ < 1. Documents with
    * fewer than two tokens score null. Output:
    * `(idCol, n_bigrams, bigram_perplexity)` (6 dp).
    *
    * Scale shape: bigram events come from ONE narrow codegen'd
    * kernel pass over the token array (BigramPairsExpr) — no window,
    * no per-token shuffle, no interpreted HOF dispatch; events
    * aggregate to per-(doc, prev, w) counts
    * before any join, so the bigram-count join moves doc-DISTINCT-
    * bigram rows; c(prev,·) folds from the bigram counts (no second
    * corpus pass); N/V ride a broadcast 1-row frame. The two big
    * exchanges share the (prev, w) key grain. */
  /** Ordered bigram events of each row's normalised tokens via the
    * narrow BigramPairsExpr kernel (rows with <2 tokens drop),
    * carrying `keepCols` through: output keepCols ++ (prev, w). */
  private def explodedBigrams(
      df: DataFrame,
      textCol: String,
      keepCols: Seq[String]): DataFrame =
    // one codegen'd kernel pass (BigramPairsExpr) — the zip_with/slice
    // formulation is a CodegenFallback HOF evaluated interpreted per
    // element, and the posexplode+lag alternative shuffles per token
    df.withColumn("__toks", normTokens(col(textCol)))
      .where(size(col("__toks")) >= 2)
      .select(keepCols.map(col) :+ explode(ColumnBridge(
        graft.functions.BigramPairsExpr(
          ColumnBridge.expression(col("__toks"))))).as("__pr"): _*)
      .select(keepCols.map(col) :+ col("__pr.prev").as("prev")
        :+ col("__pr.w").as("w"): _*)

  /** Corpus unigram counts (w, c) over normalised tokens — the
    * reference-LM builder for [[bigramPerplexity]]'s `lmUnigrams`. */
  def unigramCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(normTokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** Corpus bigram counts (prev, w, cbw) over ordered normalised
    * tokens — the reference-LM builder for [[bigramPerplexity]]'s
    * `lmBigrams`. Narrow pair construction, one bigram-vocabulary
    * aggregation. */
  def bigramCounts(df: DataFrame, textCol: String): DataFrame =
    explodedBigrams(df, textCol, Nil)
      .groupBy("prev", "w").agg(count(lit(1)).as("cbw"))

  def bigramPerplexity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      lambda: Double = 0.7,
      alpha: Double = 1.0,
      lmBigrams: Option[DataFrame] = None,
      lmUnigrams: Option[DataFrame] = None): DataFrame = {
    require(lambda > 0.0 && lambda <= 1.0,
      s"bigramPerplexity: lambda must be in (0, 1], got $lambda")
    require(alpha > 0.0, s"bigramPerplexity: alpha must be > 0, got $alpha")
    require(lmBigrams.isDefined == lmUnigrams.isDefined,
      "bigramPerplexity: provide BOTH lmBigrams (prev, w, cbw) and " +
        "lmUnigrams (w, c), or neither (self-trained)")
    val prs = explodedBigrams(df, textCol, Seq(idCol))
    val uni = lmUnigrams
      .map(_.select(col("w"), col("c").cast("long").as("c")))
      .getOrElse(unigramCounts(df, textCol))
    val stats = uni.agg(sum("c").as("__N"), count(lit(1)).as("__V"))
    val cb = lmBigrams
      .map(_.select(col("prev"), col("w"), col("cbw").cast("long").as("cbw")))
      .getOrElse(prs.groupBy("prev", "w").agg(count(lit(1)).as("cbw")))
    val cp = cb.groupBy("prev").agg(sum("cbw").as("cpre"))
    val ev = prs.groupBy(idCol, "prev", "w").agg(count(lit(1)).as("nd"))
    // LEFT joins so out-of-LM events keep scoring: an unseen bigram's
    // MLE term is 0 (the λ mix degrades to the smoothed unigram), an
    // unseen word takes the unseen unigram mass α/(N + αV) — mirroring
    // unigramPerplexity's OOV contract. Self-trained inputs always
    // match, so the left joins are inner in effect there.
    val scored = ev
      .join(cb, Seq("prev", "w"), "left")
      .join(cp, Seq("prev"), "left")
      .join(uni, Seq("w"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("__mle",
        when(col("cpre").isNull || col("cbw").isNull, lit(0.0))
          .otherwise(col("cbw").cast("double") / col("cpre").cast("double")))
      .withColumn("__lp", log(
        lit(lambda) * col("__mle") +
          lit(1.0 - lambda) *
            ((coalesce(col("c"), lit(0L)) + lit(alpha)) /
              (col("__N") + lit(alpha) * col("__V")))))
      .groupBy(idCol)
      .agg(sum("nd").as("n_bigrams"),
        round(exp(-sum(col("nd") * col("__lp")) / sum(col("nd"))), 6)
          .as("bigram_perplexity"))
    df.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * fuse N ranked lists into one ranking by
    * `score(d) = Σ_i 1 / (c + rank_i(d))` — the standard hybrid-
    * retrieval combiner (lexical + vector lists in RAG stacks) that
    * needs NO score calibration between systems, only ranks. Each
    * input carries (idCol, rankCol with rank 1 = best); a document
    * missing from a list simply contributes nothing for it, and a
    * document appearing more than once WITHIN a list (a malformed
    * ranking) counts only its best rank rather than summing duplicate
    * contributions. Scores are rounded to 6 dp and tie-broken by id,
    * so the fused ranking is engine-portable. Output:
    * (idCol, rrf_score, rank), rank 1 = best, top `k` rows.
    *
    * Scale shape: the inputs are top-N lists — already bounded — so
    * the union + groupBy shuffles at most lists × N rows and the final
    * top-k plans as TakeOrderedAndProject. The corpus never enters
    * this operator; its cost lives in the upstream retrievers. */
  def rrfFuse(
      rankings: Seq[DataFrame],
      idCol: String,
      rankCol: String,
      k: Int,
      c: Double = 60.0): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(k > 0, s"rrfFuse: k must be positive, got $k")
    require(c >= 0.0, s"rrfFuse: c must be >= 0, got $c")
    val contribs = rankings
      .map(_.groupBy(col(idCol)).agg(min(col(rankCol).cast("double")).as("__rrf_r"))
        .select(col(idCol), (lit(1.0) / (lit(c) + col("__rrf_r"))).as("__rrf_c")))
      .reduce(_ unionByName _)
    contribs.groupBy(idCol)
      .agg(round(sum(col("__rrf_c")), 6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf_score").desc, col(idCol))).cast("int"))
  }

  /** Hybrid lexical + vector retrieval: BM25 top-`nPerList` over
    * `docs` fused (RRF) with cosine top-`nPerList` of `queryVec` over
    * `emb` — the two-retriever RAG shape, joined on a shared id space.
    * Both candidate lists are bounded TakeOrderedAndProject scans;
    * the fusion is rank-only (see [[rrfFuse]]), so nothing about the
    * two systems' score scales needs calibrating. Output:
    * (idCol, rrf_score, rank), top `k`. */
  def hybridTopK(
      docs: DataFrame,
      emb: DataFrame,
      idCol: String,
      textCol: String,
      vecCol: String,
      queryTerms: Seq[String],
      queryVec: Array[Double],
      k: Int = 10,
      nPerList: Int = 20,
      c: Double = 60.0): DataFrame = {
    require(queryVec.nonEmpty, "hybridTopK: empty query vector")
    val lexRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col(idCol))
    val lex = bm25TopK(docs, idCol, textCol, queryTerms, nPerList)
      .withColumn("rnk", row_number().over(lexRank))
    val qv = typedLit(queryVec.toSeq)
    val sem = emb
      .select(col(idCol),
        round(graft.similarity.Similarity.cosine(
          col(vecCol).cast("array<double>"), qv), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(nPerList)
      .withColumn("rnk", row_number().over(lexRank))
    rrfFuse(Seq(lex.select(col(idCol), col("rnk")),
      sem.select(col(idCol), col("rnk"))), idCol, "rnk", k, c)
  }
}
