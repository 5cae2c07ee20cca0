package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding quantization — the storage/bandwidth lever for
  * billion-vector corpora: int8 symmetric quantization shrinks a
  * float32 embedding column 4× (and a float64 one 8×), which at 100 TB
  * of embeddings is the difference between a corpus that fits the
  * cluster's NVMe tier and one that doesn't. Everything is expressed
  * as narrow Catalyst HOF projections — no UDFs, no shuffle.
  */
object Quantize {

  /** Symmetric per-vector int8 quantization: scale = max|x| / 127,
    * q_i = round(x_i / scale) ∈ [-127, 127]. Zero / empty vectors get
    * scale 0 and an all-zero code. Appends `scaleCol` (double) and
    * `quantCol` (array<int> — int, not byte, so the column round-trips
    * identically through parquet/other engines).
    *
    * The scale lands as a real column BEFORE the code lambda uses it:
    * Catalyst re-evaluates computed arguments inside HOF lambdas per
    * element, so referencing the scale expression directly would
    * recompute the array max once per component.
    */
  def quantizeInt8(
      df: DataFrame,
      vecCol: String,
      scaleCol: String = "scale",
      quantCol: String = "qvec"): DataFrame = {
    val work = "__quant_dv"
    graft.core.DataFrameOps.requireNoReserved(df, Seq(work), "quantizeInt8")
    df.withColumn(work, col(vecCol).cast("array<double>"))
      .withColumn(scaleCol,
        coalesce(array_max(transform(col(work), x => abs(x))), lit(0.0)) / 127.0)
      .withColumn(quantCol,
        when(col(scaleCol) === 0.0, transform(col(work), _ => lit(0)))
          .otherwise(transform(col(work),
            x => round(x / col(scaleCol), 0).cast("int"))))
      .drop(work)
  }

  /** Reconstruct an approximate float vector from an int8 code:
    * x̂_i = q_i · scale. Max per-component error is scale/2. The scale
    * argument must be a bound column (HOF lambda re-evaluation — see
    * [[quantizeInt8]]). */
  def dequantizeInt8(quant: Column, scale: Column): Column =
    transform(quant, q => q.cast("double") * scale)
}
