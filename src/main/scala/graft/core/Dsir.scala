package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{DsirBucketsExpr, DsirScoreExpr}
import graft.text.TextFunctions.normTokens

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * public methodology): select source documents that look like a small
  * TARGET corpus by (1) fitting bag-of-n-gram models p (target) and q
  * (source), (2) scoring every source doc with the log importance
  * weight Σ_grams [ln p(gram) − ln q(gram)], and (3) sampling docs
  * with probability ∝ exp(weight) — the quality-/domain-selection
  * step of assembling a pre-training mix from raw crawl.
  *
  * Two tiers, the repo's usual pair:
  *  - WORD-GRAIN EXACT ([[importanceWeights]]): features are the
  *    literal unigrams+bigrams. All corpus-scale work is feature-grain
  *    aggregation (Zipf-bounded, like `Subword.trainBpeMerges`'s form
  *    table) plus one doc-grain sum; everything stays in-plan (counts
  *    and the union-vocabulary size ride a broadcast 1-row frame, the
  *    `unigramPerplexity` pattern). Oracle-replayable end to end.
  *  - HASHED-BUCKET SCALE PATH ([[importanceWeightsHashed]]): features
  *    hash into `numBuckets` buckets (domain bounded regardless of
  *    vocabulary — the paper's own construction), the bucket log-ratio
  *    table is collected driver-side (bucket-cardinality, loudly
  *    bounded like `Ivf.maxTrainRows`) and scoring is ONE narrow
  *    codegen'd pass over the corpus ([[graft.functions
  *    .DsirScoreExpr]]) — no explode, no join, no shuffle at scoring
  *    time. Contract-tested against the exact path (DsirSpec: equal
  *    scores under an injective fixture at α = 0), not oracle-replayed
  *    (the bucket hash is not engine-portable).
  */
object Dsir {

  /** Unigrams + adjacent-pair bigrams from an already-BOUND token
    * array column. The token array must be a bound column (`select` /
    * `withColumn` it first, as the internal paths here do), not a
    * computed expression: `element_at` inside the lambda re-evaluates
    * a computed argument PER ELEMENT, turning one tokenize per doc
    * into one per token (the HOF shingle trap —
    * measured 22 s vs 0.5 s on the sf0.1 corpus). */
  def ngramFeaturesFromTokens(toks: Column): Column =
    // one codegen'd kernel pass (NgramFeaturesExpr) — the HOF form
    //   concat(toks, transform(sequence(1, n-1), i =>
    //     concat(element_at(toks, i), " ", element_at(toks, i+1))))
    // dispatched an interpreted ArrayTransform per row, three corpus
    // passes per importanceWeights call; byte-identical output
    // (DsirSpec pins kernel ≡ HOF, incl. null-token bigram nulls)
    org.apache.spark.sql.graft.ColumnBridge(
      graft.functions.NgramFeaturesExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks)))

  /** Convenience form over raw text — FOR SINGLE-USE CONTEXTS ONLY
    * (see [[ngramFeaturesFromTokens]] for the re-evaluation trap). */
  def ngramFeatures(text: Column): Column =
    ngramFeaturesFromTokens(normTokens(text))

  /** (feature, cnt) distribution of a corpus — one explode plus a
    * map-side-combinable feature-grain aggregate. */
  def featureDistribution(df: DataFrame, textCol: String): DataFrame =
    df.select(normTokens(col(textCol)).as("__graft_toks"))
      .select(explode(ngramFeaturesFromTokens(col("__graft_toks"))).as("feature"))
      .groupBy("feature").agg(count(lit(1)).as("cnt"))

  /** Word-grain exact DSIR log importance weights: one row per source
    * doc, `(idCol, log_weight)`. Add-α smoothing over the UNION
    * feature set F of both corpora: p(f) = (c_t(f)+α)/(N_t+α·|F|),
    * q(f) analogously; `log_weight = Σ_gram occurrences
    * [ln p − ln q]`. Docs with no features score 0.
    *
    * Scale shape: two feature-grain aggregates, a feature-grain
    * full-outer join, corpus totals in a broadcast 1-row frame, one
    * feature-grain score join and one doc-grain sum — no window, no
    * collect, no driver loop. */
  def importanceWeights(
      source: DataFrame,
      target: DataFrame,
      textCol: String,
      idCol: String,
      alpha: Double = 1.0): DataFrame = {
    // α = 0 is the unsmoothed MLE — valid when the corpora share
    // support (every source gram seen in target), where it makes the
    // word-grain and hashed paths exactly comparable (no |F|-vs-B
    // denominator); α > 0 is the production default
    require(alpha >= 0.0, s"importanceWeights: alpha must be >= 0, got $alpha")
    val tDist = featureDistribution(target, textCol)
      .withColumnRenamed("cnt", "ct")
    val sDist = featureDistribution(source, textCol)
      .withColumnRenamed("cnt", "cs")
    val dists = tDist.join(sDist, Seq("feature"), "full_outer")
      .select(col("feature"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cs"), lit(0L)).as("cs"))
    val stats = dists.agg(
      sum("ct").cast("double").as("nt"),
      sum("cs").cast("double").as("ns"),
      count(lit(1)).cast("double").as("f"))
    val ratios = dists.crossJoin(broadcast(stats))
      .select(col("feature"),
        (log((col("ct") + alpha) / (col("nt") + lit(alpha) * col("f"))) -
          log((col("cs") + alpha) / (col("ns") + lit(alpha) * col("f"))))
          .as("__graft_lr"))
    val scores = source
      .select(col(idCol), normTokens(col(textCol)).as("__graft_toks"))
      .select(col(idCol),
        explode(ngramFeaturesFromTokens(col("__graft_toks"))).as("feature"))
      .join(ratios, "feature")
      .groupBy(idCol)
      .agg(sum("__graft_lr").as("log_weight"))
    source.select(col(idCol))
      .join(scores, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("log_weight"), lit(0.0)).as("log_weight"))
  }

  /** Hashed-bucket DSIR scoring — the 100 TB path: bucket
    * distributions of both corpora (explode of the codegen'd bucket
    * kernel + bucket-grain aggregate, collected driver-side at bucket
    * cardinality), add-α smoothing over the B buckets, then ONE narrow
    * codegen'd pass adds `log_weight` to `source`. `numBuckets` is the
    * loud driver bound (the `Ivf.maxTrainRows` contract): the two
    * collected distributions and the ratio array are ≤ `numBuckets`
    * entries each, and the require keeps that driver-sized. */
  /** Train the hashed bucket log-ratio table alone — the reusable
    * artifact (serve it on batches via [[importanceWeightsHashed]] or
    * on a stream via `Streaming.curationGateStream`, the
    * train-once-serve-forever pattern). Driver cost is bounded by
    * `numBuckets` (the loud require). */
  def trainHashedRatios(
      source: DataFrame,
      target: DataFrame,
      textCol: String,
      numBuckets: Int = 1 << 16,
      alpha: Double = 1.0): Array[Double] = {
    require(numBuckets >= 1 && numBuckets <= (1 << 22),
      s"trainHashedRatios: numBuckets must be in [1, ${1 << 22}] " +
        s"(the bucket table is collected driver-side), got $numBuckets")
    require(alpha >= 0.0,
      s"trainHashedRatios: alpha must be >= 0, got $alpha")
    def dist(df: DataFrame): (Array[Long], Double) = {
      val counts = new Array[Long](numBuckets)
      df.select(explode(ColumnBridge(DsirBucketsExpr(
          ColumnBridge.expression(col(textCol)), numBuckets))).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"))
        .collect()
        .foreach(r => counts(r.getInt(0)) = r.getLong(1))
      (counts, counts.map(_.toDouble).sum)
    }
    val (ct, nt) = dist(target)
    val (cs, ns) = dist(source)
    Array.tabulate(numBuckets) { b =>
      math.log((ct(b) + alpha) / (nt + alpha * numBuckets)) -
        math.log((cs(b) + alpha) / (ns + alpha * numBuckets))
    }
  }

  def importanceWeightsHashed(
      source: DataFrame,
      target: DataFrame,
      textCol: String,
      numBuckets: Int = 1 << 16,
      alpha: Double = 1.0,
      outputCol: String = "log_weight"): DataFrame = {
    val ratios = trainHashedRatios(source, target, textCol, numBuckets, alpha)
    source.withColumn(outputCol,
      ColumnBridge(DsirScoreExpr(ColumnBridge.expression(col(textCol)), ratios)))
  }

  /** Persist a trained bucket ratio table as `(bucket, log_ratio)`
    * parquet — the selection-model artifact (train once in a batch
    * job, serve on later batches via [[scoreWithRatios]] or on a
    * stream via `Streaming.curationGateStream`; the
    * `Subword.saveBpeMerges` pattern). */
  def saveHashedRatios(
      spark: org.apache.spark.sql.SparkSession,
      ratios: Array[Double],
      dir: String): Unit = {
    import spark.implicits._
    ratios.toSeq.zipWithIndex.map { case (r, b) => (b, r) }
      .toDF("bucket", "log_ratio")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a ratio table written by [[saveHashedRatios]]; validates the
    * buckets are the contiguous range the scoring kernel indexes by. */
  def loadHashedRatios(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Double] = {
    import spark.implicits._
    val rows = spark.read.parquet(dir)
      .select($"bucket".cast("int"), $"log_ratio".cast("double"))
      .as[(Int, Double)].collect().sortBy(_._1)
    require(rows.nonEmpty && rows.map(_._1).sameElements(rows.indices),
      s"loadHashedRatios: buckets at $dir are not the contiguous range " +
        s"0..${rows.length - 1} — not a saveHashedRatios artifact")
    rows.map(_._2)
  }

  /** Score a corpus under an already-trained (or loaded) ratio table —
    * ONE narrow codegen'd pass, the serve half of the artifact. */
  def scoreWithRatios(
      df: DataFrame,
      textCol: String,
      ratios: Array[Double],
      outputCol: String = "log_weight"): DataFrame =
    df.withColumn(outputCol,
      ColumnBridge(DsirScoreExpr(ColumnBridge.expression(col(textCol)), ratios)))

  /** DSIR resampling: `k` source docs drawn WITHOUT replacement with
    * probability ∝ exp(log_weight), deterministically — the Gumbel
    * top-k / A-ES equivalence in LOG space (rank by
    * `ln(−ln u) − log_weight` ascending, u the md5-derived uniform of
    * [[Sampling.weightedSample]]), so extreme log weights never
    * overflow an exp(). Same reproducibility contract as every md5
    * sampler here: a pure function of (key set, salt). Plans as
    * TakeOrderedAndProject (per-partition top-k, no global sort).
    * Returns the selected rows of `weighted` (which must carry
    * `logWeightCol`, e.g. from [[importanceWeights]]). */
  def resampleByWeight(
      weighted: DataFrame,
      logWeightCol: String,
      k: Int,
      keyCol: String,
      salt: String = ""): DataFrame = {
    require(k >= 1, s"resampleByWeight: k must be >= 1, got $k")
    val u = (conv(substring(md5(concat(lit(salt), Sampling.keyStr(col(keyCol)))),
      1, 8), 16, 10).cast("double") + 1.0) / 4294967296.0
    weighted
      .withColumn("__graft_gk", log(-log(u)) - col(logWeightCol))
      .orderBy(col("__graft_gk").asc, col(keyCol).asc)
      .limit(k)
      .drop("__graft_gk")
  }
}
