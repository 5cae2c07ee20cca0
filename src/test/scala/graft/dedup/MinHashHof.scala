package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** Interpreted (higher-order function) formulations of token shingles
  * and MinHash signatures — the forms the native kernels in
  * `graft.functions.HashFunctions` replaced, kept so specs can pin the
  * kernels bit for bit. A token array passed in must be a bound column:
  * Catalyst re-evaluates a computed argument on every lambda
  * invocation, turning one regex split per document into one per
  * shingle. */
object MinHashHof {

  /** k-shingles of a token-array column, distinct. */
  def shinglesFromTokens(toks: Column, k: Int = 3): Column =
    array_distinct(
      filter(
        transform(sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
          i => concat_ws(" ", slice(toks, i, lit(k)))),
        s => length(s) > 0))

  /** Token k-shingles of a normalised text column. */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesFromTokens(TextFunctions.tokens(TextFunctions.normalizeText(text)), k)

  /** One xxhash64 per shingle. */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, s => xxhash64(s))

  /** MinHash signature from pre-hashed shingles: per seed, the minimum
    * of xxhash64(seed, h). */
  def minHashSignatureFromHashes(hashArr: Column, numHashes: Int = 64): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      seed => array_min(transform(hashArr, h => xxhash64(seed, h))))

  /** MinHash signature of a shingle-string array. */
  def minHashSignature(shingleArr: Column, numHashes: Int = 64): Column =
    minHashSignatureFromHashes(shingleHashes(shingleArr), numHashes)
}
