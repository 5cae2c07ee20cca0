package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expressions for the hashing-heavy dedup kernels.
  *
  * The higher-order-function formulations (transform/aggregate over
  * xxhash64) are correct but run in Catalyst's interpreted expression
  * walker — ~40 virtual calls per element per seed. These expressions
  * compute the same signatures in tight JVM loops via a static helper,
  * and `doGenCode` emits a single static call so they stay INSIDE
  * whole-stage codegen (no UDF serialization, no codegen fence).
  * Measured on sf0.1 documents: MinHash banding query 23s → ~2s.
  */
object HashKernels {

  private[functions] def requireArrayOfLong(
      dt: DataType, name: String): TypeCheckResult = dt match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name expects array<bigint>, got ${other.catalogString}")
  }

  /** MinHash signature over pre-hashed elements: for seed i,
    * min over h of xxh64(h, seed_i), seed_i = xxh64(i, 42).
    * Matches the HOF form `xxhash64(lit(i), h)` (42 is Spark's default
    * xxhash64 seed; an int argument is folded first, then the long). */
  def minHashCompute(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val seed = XXH64.hashInt(i, 42L)
      var min = Long.MaxValue
      var j = 0
      while (j < n) {
        val h = XXH64.hashLong(arr.getLong(j), seed)
        if (h < min) min = h
        j += 1
      }
      out(i) = min
      i += 1
    }
    new GenericArrayData(out)
  }

  /** LSH band buckets over a signature: bucket b = xxh64 chain over
    * the b-th `rows`-sized slice, seeded per band. Replaces the
    * interpreted HOF form (slice → cast-to-string → concat_ws →
    * xxhash64), which both allocated strings per band and fell out of
    * codegen; bucket VALUES differ from the string form but bucketing
    * semantics (equal slices ⇔ equal buckets, per band) are identical.
    * Signatures shorter than bands×rows hash whatever their slice
    * holds, mirroring slice()'s truncation. */
  def bandBuckets(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, 42L)
      var j = b * rows
      val end = math.min(j + rows, n)
      while (j < end) {
        h = XXH64.hashLong(sig.getLong(j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** xxhash64 of a string's UTF-8 bytes with Spark's default seed 42 —
    * identical to the `xxhash64(str)` SQL function. */
  def hashString(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(bytes,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
  }

  /** Distinct char n-gram hashes in one pass (codepoint-based like
    * substr, so multi-byte text n-grams match the string formulation). */
  def ngramHashes(text: String, n: Int): ArrayData = {
    val len = text.codePointCount(0, text.length)
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    if (len >= n) {
      var cpStart = 0
      var i = 0
      while (i <= len - n) {
        val end = text.offsetByCodePoints(cpStart, n)
        val h = hashString(text.substring(cpStart, end))
        if (seen.add(h)) out += h
        cpStart = text.offsetByCodePoints(cpStart, 1)
        i += 1
      }
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    new GenericArrayData(arr)
  }

  /** Distinct k-token shingle hashes: hash of the k tokens joined with
    * a single space; docs shorter than k yield one whole-doc shingle. */
  def shingleHashes(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    val count = math.max(n - (k - 1), if (n > 0) 1 else 0)
    var i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder()
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(tokens.getUTF8String(j).toString)
        j += 1
      }
      if (sb.length() > 0) {
        val h = hashString(sb.toString)
        if (seen.add(h)) out += h
      }
      i += 1
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    new GenericArrayData(arr)
  }

  /** POSITION-preserving k-token window hashes: element i is the hash
    * of the window starting at token i (k tokens joined with a single
    * space — the same key [[shingleHashes]] hashes, WITHOUT its
    * sort+dedup), length n−k+1; empty for docs shorter than k. The
    * substring-dedup key shape: start alignment matters, so order and
    * multiplicity must survive. The window string is built once in a
    * reused builder and never leaves the kernel — 8 B per window reach
    * the plan instead of ~k tokens of text. */
  def windowHashes(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    val count = math.max(n - (k - 1), 0)
    val out = new Array[Long](count)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(tokens.getUTF8String(j).toString)
        j += 1
      }
      out(i) = hashString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Jaccard of two long arrays treated as sets. Inputs produced by
    * [[ngramHashes]]/[[shingleHashes]] are sorted+distinct, enabling an
    * allocation-free merge walk; unsorted inputs fall back to hashing.
    */
  def hashJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (isSortedDistinct(a) && isSortedDistinct(b)) {
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      val union = na + nb - inter
      if (union == 0) 0.0 else inter.toDouble / union
    } else {
      val sa = new java.util.HashSet[java.lang.Long]()
      var i = 0
      while (i < na) { sa.add(a.getLong(i)); i += 1 }
      val sb = new java.util.HashSet[java.lang.Long]()
      var j = 0
      while (j < nb) { sb.add(b.getLong(j)); j += 1 }
      var inter = 0
      val it = sa.iterator()
      while (it.hasNext) if (sb.contains(it.next())) inter += 1
      val union = sa.size() + sb.size() - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }
  }

  private def isSortedDistinct(a: ArrayData): Boolean = {
    var i = 1
    while (i < a.numElements()) {
      if (a.getLong(i - 1) >= a.getLong(i)) return false
      i += 1
    }
    true
  }

  /** Random-hyperplane LSH bucket: sign bits of dots with numPlanes
    * pseudo-random hyperplanes whose components derive from
    * xxh64(d, xxh64(p, xxh64(seed, 42))) scaled to [-1, 1] — identical
    * derivation to the HOF form xxhash64(lit(seed), p, d).
    *
    * Vectors SHORTER than `dim` return bucket 0, replicating the HOF
    * fold where zip_with null-padding poisons every plane's dot (each
    * sign bit falls to the otherwise(0) branch). Vectors longer than
    * `dim` use their first `dim` components. */
  def hyperplaneBucket(
      arr: ArrayData, isFloat: Boolean, dim: Int, numPlanes: Int, seed: Int): Long = {
    if (arr.numElements() < dim) return 0L
    val n = dim
    var acc = 0L
    val seedH = XXH64.hashInt(seed, 42L)
    var p = 0
    while (p < numPlanes) {
      val planeH = XXH64.hashInt(p, seedH)
      var d = 0.0
      var j = 0
      while (j < n) {
        val comp = XXH64.hashInt(j, planeH).toDouble / Long.MaxValue.toDouble
        val x = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
        d += x * comp
        j += 1
      }
      acc = (acc << 1) + (if (d >= 0) 1L else 0L)
      p += 1
    }
    acc
  }

  /** Single-pass cosine: dot and both norms in one walk, sequential
    * accumulation (matches the HOF fold's FP order exactly). Callers
    * must pass equal-length vectors; [[CosineSimExpr]] returns NULL for
    * mismatched lengths before reaching this kernel, replicating the
    * HOF dot's zip_with null-poisoning. */
  def cosineSim(
      a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Per-element xxhash64 of a token array, ORDER- and
    * MULTIPLICITY-preserving (unlike [[shingleHashes]], which sorts and
    * dedups) — bit-identical to the HOF form
    * `transform(toks, t => xxhash64(t))`, which walks the interpreted
    * evaluator per token. SimHash weights repeated tokens by their
    * count, so the dedup in [[shingleHashes]] must NOT happen here. */
  def tokenHashes(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      // null element → the xxhash64 seed (42L), matching the HOF form:
      // XxHash64 leaves the accumulator at the seed for null input
      out(i) =
        if (tokens.isNullAt(i)) 42L
        else hashString(tokens.getUTF8String(i).toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over pre-hashed tokens: bit b of the result is the
    * sign of sum over tokens of ±1 per bit b of the token hash. */
  def simHashCompute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** MurmurHash3's 64-bit finalizer over a decorrelated input — an
    * independent remix of a token hash, giving the second 64 SimHash
    * bits without re-hashing the token string. fmix64 is a bijective
    * avalanche (every output bit depends on every input bit), and the
    * golden-ratio XOR ensures fmix64(h ^ c) shares no fixed points
    * with h, so word-1 votes are independent of word-0 votes. One
    * caveat to "independent": remix is a deterministic function of the
    * token hash, so the words are independent only across DISTINCT
    * token-hash multisets — two documents whose token hashes collide
    * (xxhash64 collision) collide in both words, where truly
    * independent hashes would disagree on word 1. Harmless for dedup
    * (a 64-bit collision is already a false near-dup in word 0). */
  private def remix(h0: Long): Long = {
    var h = h0 ^ 0x9E3779B97F4A7C15L
    h ^= h >>> 33
    h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33
    h *= 0xC4CEB9FE1A85EC53L
    h ^= h >>> 33
    h
  }

  /** 128-bit SimHash over pre-hashed tokens as two longs [w0, w1]:
    * w0 votes on the token hash bits (bit-identical to
    * [[simHashCompute]]), w1 on an independent [[remix]] of each hash.
    * Concatenating two independent 64-bit SimHashes IS a 128-bit
    * SimHash — each fingerprint bit is the sign of an independent
    * hyperplane vote — so Hamming distance over the pair carries the
    * usual cosine-similarity estimate at double the resolution. */
  def simHash128Compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val votes = new Array[Int](128)
    var j = 0
    while (j < n) {
      val h0 = arr.getLong(j)
      val h1 = remix(h0)
      var b = 0
      while (b < 64) {
        if (((h0 >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        if (((h1 >>> b) & 1L) == 1L) votes(64 + b) += 1 else votes(64 + b) -= 1
        b += 1
      }
      j += 1
    }
    val out = new Array[Long](2)
    var b = 0
    while (b < 128) {
      if (votes(b) > 0) out(b >>> 6) |= (1L << (b & 63))
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Product-quantization encode: one read of the vector (normalised
    * in place by its L2 norm — zero vectors encode unscaled), then per
    * subspace a k-way squared-L2 argmin against the flattened codebook
    * (`cb[(s*k + c)*dsub + j]`). m × k × dsub FMAs per row in a tight
    * loop — the same flop count as ONE dense scan of the vector per
    * codebook entry, with no per-element lambda dispatch. */
  def pqEncodeCodes(
      vec: ArrayData, isFloat: Boolean, cb: Array[Double],
      m: Int, k: Int, dsub: Int, normalize: Boolean): ArrayData = {
    val dim = m * dsub
    val v = new Array[Double](dim)
    var i = 0
    var ss = 0.0
    while (i < dim) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      v(i) = x
      ss += x * x
      i += 1
    }
    // normalize=false is the IVF cell-assignment mode: raw squared-L2
    // argmin against centroids trained on raw vectors
    val inv = if (!normalize || ss == 0.0) 1.0 else 1.0 / math.sqrt(ss)
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val vOff = s * dsub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val cOff = (s * k + c) * dsub
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val t = v(vOff + j) * inv - cb(cOff + j)
          d += t * t
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** ADC lookup table for one query vector: lut[s][c] = inner product
    * of the L2-normalised query's subspace s with codebook entry c —
    * m × k × dsub FMAs once per query (NOT per scored pair; the
    * [[graft.similarity.Pq.adcTopK]] plan fences this projection so
    * the optimizer cannot collapse it into the scoring join and
    * re-evaluate it per corpus row). */
  def pqLut(
      vec: ArrayData, isFloat: Boolean, cb: Array[Double],
      m: Int, k: Int, dsub: Int): ArrayData = {
    val dim = m * dsub
    val v = new Array[Double](dim)
    var i = 0
    var ss = 0.0
    while (i < dim) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      v(i) = x
      ss += x * x
      i += 1
    }
    val inv = if (ss == 0.0) 1.0 else 1.0 / math.sqrt(ss)
    val rows = new Array[AnyRef](m)
    var s = 0
    while (s < m) {
      val vOff = s * dsub
      val row = new Array[Double](k)
      var c = 0
      while (c < k) {
        val cOff = (s * k + c) * dsub
        var d = 0.0
        var j = 0
        while (j < dsub) {
          d += v(vOff + j) * inv * cb(cOff + j)
          j += 1
        }
        row(c) = d
        c += 1
      }
      rows(s) = new GenericArrayData(row)
      s += 1
    }
    new GenericArrayData(rows)
  }

  /** ADC score: sum over subspaces of lut[s][code[s]] — m array reads
    * and adds per corpus row. Codes outside a LUT row's range mean the
    * code and LUT come from DIFFERENT codebooks (a caller bug): throws
    * rather than silently scoring garbage. */
  def pqAdcScore(code: ArrayData, lut: ArrayData): Double = {
    val m = code.numElements()
    var s = 0.0
    var i = 0
    while (i < m) {
      val row = lut.getArray(i)
      val c = code.getInt(i)
      if (c < 0 || c >= row.numElements())
        throw new IllegalArgumentException(
          s"pqAdcScore: code $c out of range for a ${row.numElements()}-entry " +
            "LUT row — code and LUT built from different codebooks")
      s += row.getDouble(c)
      i += 1
    }
    s
  }
}

/** array<long> → array<long> MinHash signature (see [[HashKernels]]). */
case class MinHashSignatureExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    HashKernels.requireArrayOfLong(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any =
    HashKernels.minHashCompute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.minHashCompute($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

/** array<long> → array<long> LSH band buckets (see [[HashKernels]]). */
case class BandBucketsExpr(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    HashKernels.requireArrayOfLong(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_buckets"

  override def nullSafeEval(input: Any): Any =
    HashKernels.bandBuckets(input.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.bandBuckets($c, $bands, $rows)")

  override protected def withNewChildInternal(newChild: Expression): BandBucketsExpr =
    copy(child = newChild)
}

/** array<long> → long SimHash fingerprint (see [[HashKernels]]). */
case class SimHashExpr(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    HashKernels.requireArrayOfLong(child.dataType, prettyName)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    HashKernels.simHashCompute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simHashCompute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

/** array<long> → array<long>(2) 128-bit SimHash fingerprint (see
  * [[HashKernels.simHash128Compute]]). */
case class SimHash128Expr(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    HashKernels.requireArrayOfLong(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash128"

  override def nullSafeEval(input: Any): Any =
    HashKernels.simHash128Compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simHash128Compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash128Expr =
    copy(child = newChild)
}

/** string → array<long>: distinct xxhash64 of each char n-gram,
  * computed in one pass with no intermediate string-array column. */
case class NgramHashesExpr(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

  override def nullSafeEval(input: Any): Any =
    HashKernels.ngramHashes(input.toString, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.ngramHashes($c.toString(), $n)")

  override protected def withNewChildInternal(newChild: Expression): NgramHashesExpr =
    copy(child = newChild)
}

/** array<string> tokens → array<long>: distinct xxhash64 of each
  * k-token shingle (tokens joined with a single space). */
case class ShingleHashesExpr(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    HashKernels.shingleHashes(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.shingleHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** array<string> tokens → array<long>: POSITION-preserving k-token
  * window hashes (element i = hash of the window starting at i),
  * length n−k+1 — the substring-dedup key shape. */
case class WindowHashesExpr(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hashes"

  override def nullSafeEval(input: Any): Any =
    HashKernels.windowHashes(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.windowHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WindowHashesExpr =
    copy(child = newChild)
}

/** array<string> tokens → array<long>: per-token xxhash64, order and
  * multiplicity preserved (the SimHash input shape). */
case class TokenHashesExpr(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hashes"

  override def nullSafeEval(input: Any): Any =
    HashKernels.tokenHashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.tokenHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenHashesExpr =
    copy(child = newChild)
}

/** (array<long>, array<long>) → double Jaccard similarity of the two
  * element sets — the verification kernel for hash-set candidates. */
case class HashJaccardExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<bigint> inputs")
    }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "hash_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.hashJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashKernels.hashJaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HashJaccardExpr =
    copy(left = newLeft, right = newRight)
}

/** array<float|double> → long hyperplane-LSH bucket (see
  * [[HashKernels.hyperplaneBucket]]). */
case class HyperplaneBucketExpr(
    child: Expression, dim: Int, numPlanes: Int, seed: Int)
    extends UnaryExpression {

  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) |
         ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float> or array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_bucket"

  override def nullSafeEval(input: Any): Any =
    HashKernels.hyperplaneBucket(
      input.asInstanceOf[ArrayData], isFloat, dim, numPlanes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.hyperplaneBucket($c, $isFloat, $dim, $numPlanes, $seed)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
    copy(child = newChild)
}

/** (array<float|double>, array<float|double>) → double cosine
  * similarity, single pass computing dot and both norms together —
  * the HOF formulation walks each array three times through the
  * interpreted evaluator. Any other numeric array is implicitly cast to
  * array<double>, the element cast the HOF applies. Arithmetic order
  * matches the sequential HOF fold bit-for-bit; mismatched-length
  * inputs return NULL, exactly as the HOF's zip_with null-padding
  * poisons its fold. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  private def vecType(dt: DataType): Option[Boolean] = dt match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => Some(true)
    case ArrayType(org.apache.spark.sql.types.DoubleType, _) => Some(false)
    case _ => None
  }

  override def inputTypes: Seq[DataType] =
    children.map(_.dataType).map {
      case t if vecType(t).isDefined => t
      case ArrayType(_: org.apache.spark.sql.types.NumericType, _) =>
        ArrayType(org.apache.spark.sql.types.DoubleType)
      case t => t
    }

  private lazy val leftFloat = vecType(left.dataType).get
  private lazy val rightFloat = vecType(right.dataType).get

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecType(left.dataType).isDefined && vecType(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true // NULL on length mismatch
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    if (aa.numElements() != bb.numElements()) null
    else HashKernels.cosineSim(aa, leftFloat, bb, rightFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.HashKernels.cosineSim($a, $leftFloat, $b, $rightFloat);
      }""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** array<float|double> → array<int> product-quantization codes: the
  * vector is L2-normalised in-kernel (one read, no extra pass), split
  * into `m` subspaces of `dsub` dims, and each subspace argmin-matched
  * against its `k`-entry codebook (flattened row-major:
  * cb[(s*k + c)*dsub + j]). The HOF formulation runs m×k interpreted
  * aggregate() lambdas per row and re-evaluates the argmin argument
  * twice (array_position + array_min) — measured 17.9× slower than
  * the exact brute-force scan it is meant to beat (SCALE.md r11 ANN
  * adjudication row); this kernel is one static call inside
  * whole-stage codegen. NULL on dim mismatch,
  * mirroring [[CosineSimExpr]]. */
case class PqEncodeExpr(
    child: Expression, flatCodebooks: Array[Double], m: Int, k: Int, dsub: Int,
    normalize: Boolean = true)
    extends UnaryExpression {

  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) |
         ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float> or array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true // NULL on dim mismatch
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != m * dsub) null
    else HashKernels.pqEncodeCodes(arr, isFloat, flatCodebooks, m, k, dsub, normalize)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", flatCodebooks, "double[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      if ($c.numElements() != ${m * dsub}) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.HashKernels.pqEncodeCodes($c, $isFloat, $cbRef, $m, $k, $dsub, $normalize);
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** array<float|double> query vector → array<array<double>> ADC lookup
  * table (see [[HashKernels.pqLut]]). NULL on dim mismatch. */
case class PqLutExpr(
    child: Expression, flatCodebooks: Array[Double], m: Int, k: Int, dsub: Int)
    extends UnaryExpression {

  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) |
         ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float> or array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false),
    containsNull = false)
  override def nullable: Boolean = true // NULL on dim mismatch
  override def prettyName: String = "pq_lut"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != m * dsub) null
    else HashKernels.pqLut(arr, isFloat, flatCodebooks, m, k, dsub)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", flatCodebooks, "double[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      if ($c.numElements() != ${m * dsub}) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.HashKernels.pqLut($c, $isFloat, $cbRef, $m, $k, $dsub);
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

/** (array<int> codes, array<array<double>> per-query LUT) → double ADC
  * score: sum over subspaces of lut[s][code[s]] — the inner loop of
  * PQ search, `m` additions per corpus row. NULL when the code and LUT
  * subspace counts disagree. */
case class PqAdcScoreExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.IntegerType, _),
            ArrayType(ArrayType(org.apache.spark.sql.types.DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<int>, array<array<double>>)")
    }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true // NULL on subspace-count mismatch
  override def prettyName: String = "pq_adc_score"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val code = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    if (code.numElements() != lut.numElements()) null
    else HashKernels.pqAdcScore(code, lut)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.HashKernels.pqAdcScore($a, $b);
      }""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScoreExpr =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points for the native kernels. */
object HashFunctions {

  /** Single-pass cosine similarity of two vector columns. */
  def cosineSimNative(a: Column, b: Column): Column =
    ColumnBridge(CosineSimExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Hyperplane-LSH bucket of a vector column. */
  def hyperplaneBucketNative(
      vec: Column, dim: Int, numPlanes: Int, seed: Int): Column =
    ColumnBridge(HyperplaneBucketExpr(ColumnBridge.expression(vec), dim, numPlanes, seed))

  /** MinHash signature of an array<long> column of element hashes. */
  def minHashSignatureNative(hashArr: Column, numHashes: Int = 64): Column = {
    require(numHashes >= 1, s"minHashSignatureNative: numHashes must be >= 1, got $numHashes")
    ColumnBridge(MinHashSignatureExpr(ColumnBridge.expression(hashArr), numHashes))
  }

  /** SimHash of an array<long> column of token hashes. */
  def simHashNative(tokenHashes: Column): Column =
    ColumnBridge(SimHashExpr(ColumnBridge.expression(tokenHashes)))

  /** 128-bit SimHash (two longs) of an array<long> column of token
    * hashes — for Hamming radii the 64-bit banding can't guarantee. */
  def simHash128Native(tokenHashes: Column): Column =
    ColumnBridge(SimHash128Expr(ColumnBridge.expression(tokenHashes)))

  /** Per-token xxhash64 of an array<string> column (order-preserving). */
  def tokenHashesNative(tokens: Column): Column =
    ColumnBridge(TokenHashesExpr(ColumnBridge.expression(tokens)))

  /** LSH band buckets of an array<long> signature column. */
  def bandBucketsNative(sig: Column, bands: Int, rows: Int): Column = {
    require(bands >= 1 && rows >= 1,
      s"bandBucketsNative: bands ($bands) and rows ($rows) must be >= 1")
    ColumnBridge(BandBucketsExpr(ColumnBridge.expression(sig), bands, rows))
  }

  /** Distinct char-n-gram hashes of a string column, one fused pass. */
  def ngramHashesNative(text: Column, n: Int = 3): Column = {
    require(n >= 1, s"ngramHashesNative: n must be >= 1, got $n")
    ColumnBridge(NgramHashesExpr(ColumnBridge.expression(text), n))
  }

  /** Distinct k-token-shingle hashes of an array<string> column. */
  def shingleHashesNative(tokens: Column, k: Int = 3): Column = {
    require(k >= 1, s"shingleHashesNative: k must be >= 1, got $k")
    ColumnBridge(ShingleHashesExpr(ColumnBridge.expression(tokens), k))
  }

  /** Position-preserving k-token window hashes of an array<string>
    * column (element i = hash of the window starting at i). */
  def windowHashesNative(tokens: Column, k: Int): Column = {
    require(k >= 1, s"windowHashesNative: k must be >= 1, got $k")
    ColumnBridge(WindowHashesExpr(ColumnBridge.expression(tokens), k))
  }

  /** Jaccard similarity of two array<long> hash sets. */
  def hashJaccard(a: Column, b: Column): Column =
    ColumnBridge(HashJaccardExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** PQ codes of a vector column against trained codebooks
    * (codebooks(s)(c)(j); flattened internally). `normalize = false`
    * is the raw-L2 argmin mode [[graft.similarity.Ivf]] uses for cell
    * assignment (m = 1, k = nlist). */
  def pqEncodeNative(vec: Column, codebooks: Array[Array[Array[Double]]],
      normalize: Boolean = true): Column = {
    val m = codebooks.length
    require(m >= 1, "pqEncodeNative: empty codebooks")
    val k = codebooks.head.length
    val dsub = codebooks.head.head.length
    require(codebooks.forall(s => s.length == k && s.forall(_.length == dsub)),
      "pqEncodeNative: ragged codebooks")
    ColumnBridge(PqEncodeExpr(ColumnBridge.expression(vec),
      codebooks.flatten.flatten, m, k, dsub, normalize))
  }

  /** ADC score of a PQ code column against a per-query LUT column. */
  def pqAdcScoreNative(code: Column, lut: Column): Column =
    ColumnBridge(PqAdcScoreExpr(ColumnBridge.expression(code), ColumnBridge.expression(lut)))

  /** ADC lookup table of a query-vector column against trained
    * codebooks (normalised in-kernel). */
  def pqLutNative(vec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    require(m >= 1, "pqLutNative: empty codebooks")
    val k = codebooks.head.length
    val dsub = codebooks.head.head.length
    require(codebooks.forall(s => s.length == k && s.forall(_.length == dsub)),
      "pqLutNative: ragged codebooks")
    ColumnBridge(PqLutExpr(ColumnBridge.expression(vec),
      codebooks.flatten.flatten, m, k, dsub))
  }
}
