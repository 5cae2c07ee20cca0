package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Interpreted (higher-order function) formulation of the 64-bit
  * SimHash — the form `graft.functions.HashFunctions.simHashNative`
  * replaced, kept so specs can pin the kernel bit for bit. */
object SimHashHof {

  /** SimHash from pre-hashed tokens (one xxhash64 per token, computed
    * as the HOF *argument* so it runs once — a `xxhash64(t)` inside the
    * per-bit lambda would re-hash the token string for every bit).
    * Shift amounts are data-dependent, so the bitwise ops go through
    * `call_function` (still Catalyst, no UDF). */
  def simHashFromTokenHashes(tokenHashes: Column): Column = {
    val bitIdx = sequence(lit(0), lit(63))
    val votes = aggregate(
      tokenHashes,
      array_repeat(lit(0L), 64),
      (acc, h) =>
        zip_with(acc, bitIdx, (a, i) =>
          a + when(call_function("shiftright", h, i)
                     .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, bitIdx, (v, i) =>
        when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b))
  }
}
