package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Interpreted reference formulation of the random-hyperplane bucket
  * kernel (`HashFunctions.hyperplaneBucketNative`): the higher-order
  * function form the kernel replaced, kept so specs can pin the
  * kernel's derivation bit for bit. */
object HyperplaneReference {

  def hyperplaneBucketSeededHof(
      vec: Column, dim: Int, numPlanes: Int, seed: Int): Column = {
    def component(p: Column, d: Column): Column =
      (xxhash64(lit(seed), p, d).cast("double") / lit(Long.MaxValue.toDouble))
    val planeIdx = sequence(lit(0), lit(numPlanes - 1))
    aggregate(
      planeIdx,
      lit(0L),
      (acc, p) => {
        val d = aggregate(
          zip_with(vec, sequence(lit(0), lit(dim - 1)),
            (x, i) => x.cast("double") * component(p, i)),
          lit(0.0), (a, v) => a + v)
        call_function("shiftleft", acc, lit(1)) +
          when(d >= 0, 1L).otherwise(0L)
      })
  }
}
