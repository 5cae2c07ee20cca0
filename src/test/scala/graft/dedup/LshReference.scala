package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions
import graft.text.TextFunctions

/** Reference formulation of the LSH pair operators: the text-computed
  * bases WITHOUT the eager-checkpoint fence — kernels planned lazily
  * behind a trailing repartition, so every consumer re-derives them —
  * feeding the same pairing code as the operators. Equal pair sets
  * from both forms show the fence changes where the kernels run, not
  * what is paired. */
object LshReference {

  private def parallelism(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  def minHashBase(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, shingleSize: Int = 3): DataFrame = df
    .select(col(idCol).as("id"), col(textCol).as("text"))
    .repartition(parallelism(df))
    .withColumn("toks", TextFunctions.tokens(TextFunctions.normalizeText(col("text"))))
    .withColumn("hs", HashFunctions.shingleHashesNative(col("toks"), shingleSize))
    .filter(size(col("hs")) > 0)
    .withColumn("sig", HashFunctions.minHashSignatureNative(col("hs"), numHashes))
    .select("id", "hs", "sig")
    .repartition(parallelism(df))

  def ngramBase(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, numHashes: Int = 72): DataFrame = df
    .select(col(idCol).as("id"), TextFunctions.normalizeText(col(textCol)).as("norm"))
    .repartition(parallelism(df))
    .withColumn("gh", HashFunctions.ngramHashesNative(col("norm"), n))
    .filter(size(col("gh")) > 0)
    .withColumn("sig", HashFunctions.minHashSignatureNative(col("gh"), numHashes))
    .select(col("id"), col("gh").as("hs"), col("sig")) // the pairing's payload name
    .repartition(parallelism(df))

  def simHashBase(
      df: DataFrame, textCol: String, idCol: String,
      fingerprint: Column => Column): DataFrame = df
    .select(col(idCol).as("id"), col(textCol).as("text"))
    .repartition(parallelism(df))
    .withColumn("toks", TextFunctions.tokens(TextFunctions.normalizeText(col("text"))))
    .withColumn("th", HashFunctions.tokenHashesNative(col("toks")))
    .withColumn("sim", fingerprint(col("th")))
    .select("id", "sim")
    .repartition(parallelism(df))

  /** [[Dedup.minHashNearDuplicates]] at 16 × 4 bands. */
  def minHashNearDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, maxBucketSize: Int): DataFrame =
    Dedup.verifiedPairsFromBase(minHashBase(df, textCol, idCol),
      16, 4, threshold, maxBucketSize)

  /** [[Dedup.minHashCrossPairs]] at 16 × 4 bands. */
  def minHashCrossPairs(
      df: DataFrame, ref: DataFrame, textCol: String, idCol: String,
      threshold: Double, maxBucketSize: Int): DataFrame =
    Dedup.crossVerifiedPairs(minHashBase(df, textCol, idCol),
      minHashBase(ref, textCol, idCol), 16, 4, threshold, maxBucketSize)

  /** [[Dedup.minHashIncrementalEdges]] at 16 × 4 bands: its own
    * checkpoint over the unfenced batch base, as before the fence. */
  def minHashIncrementalEdges(
      df: DataFrame, refPath: String, textCol: String, idCol: String,
      threshold: Double, maxBucketSize: Int): DataFrame = {
    val base = minHashBase(df, textCol, idCol).localCheckpoint(true)
    Dedup.verifiedPairsFromBase(base, 16, 4, threshold, maxBucketSize)
      .unionByName(Dedup.crossVerifiedPairs(base,
        df.sparkSession.read.parquet(refPath), 16, 4, threshold, maxBucketSize))
  }

  /** [[Dedup.ngramJaccardNearDuplicates]] at n = 3, 12 × 6 bands. */
  def ngramJaccardNearDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, maxBucketSize: Int): DataFrame =
    Dedup.verifiedPairsFromBase(ngramBase(df, textCol, idCol),
      12, 6, threshold, maxBucketSize)

  def simHashNearDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int, maxBucketSize: Int): DataFrame =
    Dedup.simHashPairs(
      simHashBase(df, textCol, idCol, HashFunctions.simHashNative),
      maxHamming, maxBucketSize)

  def simHash128NearDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int, maxBucketSize: Int): DataFrame =
    Dedup.simHash128Pairs(
      simHashBase(df, textCol, idCol, HashFunctions.simHash128Native),
      maxHamming, maxBucketSize)
}
