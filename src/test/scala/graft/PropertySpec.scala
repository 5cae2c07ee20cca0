package graft

import org.scalacheck.Gen

/** Property-based checks for the pure kernels — randomised invariants
  * via ScalaCheck generators sampled in a loop (the scalatest-plus
  * bridge is not on the offline classpath). */
class PropertySpec extends SparkTestBase {

  import graft.functions.HashKernels
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private val longArrays: Gen[Array[Long]] =
    Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue)).map(_.distinct.toArray)

  private def samples[A](g: Gen[A], n: Int = 60): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)))

  test("hashJaccard is symmetric, bounded, and 1 on self") {
    for ((a, b) <- samples(Gen.zip(longArrays, longArrays))) {
      val (ad, bd) = (new GenericArrayData(a), new GenericArrayData(b))
      val j1 = HashKernels.hashJaccard(ad, bd)
      val j2 = HashKernels.hashJaccard(bd, ad)
      assert(math.abs(j1 - j2) < 1e-15)
      assert(j1 >= 0.0 && j1 <= 1.0)
      if (a.nonEmpty) assert(HashKernels.hashJaccard(ad, ad) == 1.0)
    }
  }

  test("hashJaccard sorted fast path equals hash-set fallback") {
    for ((a, b) <- samples(Gen.zip(longArrays, longArrays))) {
      val sorted = HashKernels.hashJaccard(
        new GenericArrayData(a.sorted), new GenericArrayData(b.sorted))
      // reversed input defeats the sorted-distinct detection → fallback
      val viaSet = HashKernels.hashJaccard(
        new GenericArrayData(a.sorted.reverse), new GenericArrayData(b.sorted.reverse))
      assert(math.abs(sorted - viaSet) < 1e-15)
    }
  }

  test("minHashCompute signature: length, determinism, permutation invariance") {
    for (a <- samples(longArrays) if a.nonEmpty) {
      val sig = HashKernels.minHashCompute(new GenericArrayData(a), 16)
      assert(sig.numElements() == 16)
      val shuffled = HashKernels.minHashCompute(
        new GenericArrayData(scala.util.Random.shuffle(a.toList).toArray), 16)
      assert(sig.toLongArray().toSeq == shuffled.toLongArray().toSeq)
    }
  }

  test("simHashCompute: permutation invariant") {
    for (a <- samples(longArrays)) {
      val h1 = HashKernels.simHashCompute(new GenericArrayData(a))
      val h2 = HashKernels.simHashCompute(
        new GenericArrayData(scala.util.Random.shuffle(a.toList).toArray))
      assert(h1 == h2)
    }
  }

  test("TopKAggregator: output sorted, bounded by k, equals sort-take") {
    import graft.similarity.Similarity
    val scoredGen = Gen.listOf(for {
      s <- Gen.choose(-1.0, 1.0)
      id <- Gen.choose(0L, 50L)
    } yield Similarity.Scored(s, id))
    for ((items, k) <- samples(Gen.zip(scoredGen, Gen.choose(1, 8)))) {
      val agg = new Similarity.TopKAggregator(k)
      val result = agg.finish(items.foldLeft(agg.zero)(agg.reduce))
      val expected = items.sortBy(s => (-s.sim, s.corpusId)).take(k)
      assert(result == expected)
    }
  }

  test("ngramHashes: sorted distinct output, count bounded by length") {
    val texts = Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    for (t <- samples(texts)) {
      val arr = HashKernels.ngramHashes(t, 3).toLongArray()
      assert(arr.toSeq == arr.toSeq.sorted)
      assert(arr.distinct.length == arr.length)
      assert(arr.length <= math.max(t.length - 2, 0))
    }
  }

  // ---- PQ kernels vs plain-Scala reference implementations ----

  private val dim = 8
  private val vecGen: Gen[Array[Double]] =
    Gen.listOfN(dim, Gen.choose(-5.0, 5.0)).map(_.toArray)
  // m=2, k=4, dsub=4 — small enough that the reference loop is
  // obviously correct, structured enough to exercise every index
  private val cbGen: Gen[Array[Double]] =
    Gen.listOfN(2 * 4 * 4, Gen.choose(-2.0, 2.0)).map(_.toArray)

  private def refEncode(
      v0: Array[Double], cb: Array[Double], m: Int, k: Int, dsub: Int,
      normalize: Boolean): Array[Int] = {
    val n = math.sqrt(v0.map(x => x * x).sum)
    val v = if (normalize && n != 0.0) v0.map(_ / n) else v0
    Array.tabulate(m) { s =>
      (0 until k).minBy { c =>
        (0 until dsub).map { j =>
          val t = v(s * dsub + j) - cb((s * k + c) * dsub + j); t * t
        }.sum
      }
    }
  }

  test("pqEncodeCodes matches the reference argmin, both modes, incl. zero vector") {
    for ((v, cb) <- samples(Gen.zip(vecGen, cbGen))) {
      for (normalize <- Seq(true, false)) {
        val got = HashKernels.pqEncodeCodes(
          new GenericArrayData(v), false, cb, 2, 4, 4, normalize)
          .toIntArray().toSeq
        assert(got == refEncode(v, cb, 2, 4, 4, normalize).toSeq,
          s"mismatch for normalize=$normalize v=${v.toSeq}")
      }
    }
    val zero = new GenericArrayData(Array.fill(dim)(0.0))
    for ((cb) <- samples(cbGen, 5); normalize <- Seq(true, false)) {
      val got = HashKernels.pqEncodeCodes(zero, false, cb, 2, 4, 4, normalize)
        .toIntArray().toSeq
      assert(got == refEncode(Array.fill(dim)(0.0), cb, 2, 4, 4, normalize).toSeq)
    }
  }

  test("pqLut matches reference subspace inner products; pqAdcScore sums LUT lookups") {
    for ((v, cb) <- samples(Gen.zip(vecGen, cbGen))) {
      val lut = HashKernels.pqLut(new GenericArrayData(v), false, cb, 2, 4, 4)
      val n = math.sqrt(v.map(x => x * x).sum)
      val nv = if (n != 0.0) v.map(_ / n) else v
      for (s <- 0 until 2; c <- 0 until 4) {
        val expected = (0 until 4).map(j => nv(s * 4 + j) * cb((s * 4 + c) * 4 + j)).sum
        assert(math.abs(lut.getArray(s).getDouble(c) - expected) < 1e-9)
      }
      val code = HashKernels.pqEncodeCodes(
        new GenericArrayData(v), false, cb, 2, 4, 4, true)
      val score = HashKernels.pqAdcScore(code, lut)
      val expectedScore = (0 until 2).map(s =>
        lut.getArray(s).getDouble(code.getInt(s))).sum
      assert(math.abs(score - expectedScore) < 1e-12)
    }
  }

  test("pqAdcScore throws on a code outside the LUT range (codebook mismatch guard)") {
    val lut = HashKernels.pqLut(
      new GenericArrayData(Array.fill(dim)(1.0)), false,
      samples(cbGen, 1).head, 2, 4, 4)
    val badCode = new GenericArrayData(Array(0, 7)) // 7 >= k=4
    intercept[IllegalArgumentException](HashKernels.pqAdcScore(badCode, lut))
  }

  import org.apache.spark.unsafe.types.UTF8String
  private val texts: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaLowerChar, 2 -> Gen.const(' '), 1 -> Gen.numChar,
    1 -> Gen.oneOf('.', ',', '!'))).map(_.mkString)

  test("charEntropy: bounded by log2(distinct), permutation-invariant, 0 iff <=1 symbol") {
    import graft.functions.TextSignalKernels
    for (s <- samples(texts, 80)) {
      val h = TextSignalKernels.charEntropy(UTF8String.fromString(s))
      val distinct = s.codePoints().distinct().count()
      assert(h >= -1e-12, s"negative entropy for '$s'")
      assert(h <= math.log(math.max(distinct, 1).toDouble) / math.log(2) + 1e-9,
        s"entropy $h above log2($distinct) for '$s'")
      if (distinct <= 1) assert(h == 0.0)
      val shuffled = new String(s.toCharArray.sorted)
      assert(math.abs(h - TextSignalKernels.charEntropy(
        UTF8String.fromString(shuffled))) < 1e-9,
        s"entropy not permutation-invariant for '$s'")
    }
  }

  test("tokenEntropy bounded by log2(token count); deflateRatio positive, deterministic") {
    import graft.functions.TextSignalKernels
    for (s <- samples(texts, 80)) {
      val u = UTF8String.fromString(s)
      val te = TextSignalKernels.tokenEntropy(u)
      val n = s.trim match { case "" => 0; case t => t.split("\\s+").length }
      assert(te >= -1e-12 && te <= math.log(math.max(n, 1).toDouble) / math.log(2) + 1e-9)
      val r1 = TextSignalKernels.deflateRatio(u)
      val r2 = TextSignalKernels.deflateRatio(UTF8String.fromString(s))
      assert(r1 > 0.0 && r1 == r2)
    }
  }

  test("BpeEncoder pieces always concatenate back to the word") {
    import graft.functions.BpeEncoder
    val merges: Gen[Seq[(String, String)]] = Gen.listOf(Gen.zip(
      Gen.oneOf("a", "b", "ab", "ba", "aa"), Gen.oneOf("a", "b", "ab", "bb")))
    val words: Gen[String] = Gen.nonEmptyListOf(Gen.oneOf('a', 'b')).map(_.mkString)
    for ((ms, w) <- samples(Gen.zip(merges, words), 120)) {
      val enc = new BpeEncoder(ms.toArray)
      val pieces = enc.encodeWord(w)
      assert(pieces.mkString == w,
        s"reconstruction failed: '$w' -> ${pieces.toSeq} under $ms")
      assert(enc.count(UTF8String.fromString(w)) == pieces.length)
    }
  }

  test("DsirKernels.score equals an independent per-gram lookup") {
    import graft.functions.DsirKernels
    val b = 1 << 12
    val ratios = Array.tabulate(b)(i => (i % 17).toDouble / 7.0 - 1.0)
    for (s <- samples(texts, 60)) {
      val got = DsirKernels.score(UTF8String.fromString(s), ratios)
      val toks = s.trim.toLowerCase match {
        case "" => Array.empty[String]
        case t => t.split("\\s+")
      }
      val grams = toks.toSeq ++ toks.toSeq.zip(toks.drop(1).toSeq)
        .map { case (x, y) => s"$x $y" }
      val want = grams.map(g => ratios(DsirKernels.bucketOf(g, b))).sum
      assert(math.abs(got - want) < 1e-9, s"score mismatch for '$s'")
    }
  }

  test("ConvKernels.profile counts match an independent walk") {
    import graft.functions.ConvKernels
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val roles = Gen.oneOf("system", "user", "assistant", "tool")
    val turn = Gen.zip(roles, texts)
    for (turns <- samples(Gen.listOf(turn), 60)) {
      val arr = new GenericArrayData(turns.map { case (r, c) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(r), UTF8String.fromString(c)))
      }.toArray[Any])
      val row = ConvKernels.profile(arr, 0, 1, 2)
      assert(row.getLong(0) == turns.length)
      assert(row.getLong(1) == turns.count(_._1 == "system"))
      assert(row.getLong(2) == turns.count(_._1 == "user"))
      assert(row.getLong(3) == turns.count(_._1 == "assistant"))
      val wantTokens = turns.map(_._2.trim).filter(_.nonEmpty)
        .map(_.split("\\s+").length.toLong).sum
      assert(row.getLong(4) == wantTokens)
      val wantAlt = turns.indices.drop(1).forall { i =>
        turns(i)._1 != "system" && turns(i)._1 != turns(i - 1)._1
      }
      assert(row.getBoolean(5) == wantAlt, s"alternates mismatch for $turns")
    }
  }

  test("exact quantiles: both adaptive routes agree bitwise and match a local reference") {
    import spark.implicits._
    // tie-heavy values (ints / 7) and arbitrary q grids, including the
    // empty-input and single-value degenerates the generators reach
    val gen: Gen[(List[Double], List[Double])] = Gen.zip(
      Gen.listOf(Gen.choose(-300, 300).map(_ / 7.0)),
      Gen.listOfN(3, Gen.choose(0, 100).map(_ / 100.0)))
    for ((vals, qsRaw) <- samples(gen, 8)) {
      val qs = qsRaw.distinct
      if (qs.nonEmpty) {
        val df = vals.toDF("v").repartition(5)
        def both() = (
          graft.core.Quantiles.exactQuantiles(df, "v", qs)
            .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap,
          graft.core.Quantiles.exactInterpolatedQuantiles(df, "v", qs)
            .collect().map(r => r.getDouble(0) ->
              java.lang.Double.doubleToLongBits(r.getDouble(1))).toMap)
        val viaAggregate = both()
        val viaRanks = withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1")(both())
        assert(viaAggregate == viaRanks,
          s"routes diverged on ${vals.size} values, qs=$qs:\n$viaAggregate\n$viaRanks")
        if (vals.nonEmpty) {
          val sorted = vals.sorted
          qs.foreach { q =>
            val want = sorted(math.floor(q * (vals.length - 1)).toInt)
            assert(viaAggregate._1(q) == want,
              s"type-1 q=$q: got ${viaAggregate._1(q)} want $want")
          }
        } else assert(viaAggregate._1.isEmpty && viaAggregate._2.isEmpty)
      }
    }
  }

  test("incremental connected components equal full recompute on random graphs and splits") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(3L, 30L)
      m <- Gen.choose(0, 50)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n), Gen.choose(0L, n)))
      cut <- Gen.choose(0, m)
    } yield (edges, cut)
    for (((edges, cut), i) <- samples(gen, 6).zipWithIndex) {
      // alternate the contraction route: even samples force the
      // distributed large-star/small-star path, odd use the driver
      // shortcut — both must hold the incremental contract
      val localMax = if (i % 2 == 0) 0L else 1000000L
      def cc(e: Seq[(Long, Long)]) = graft.operators.Graph
        .connectedComponents(e.toDF("a", "b"), "a", "b", localMaxEdges = localMax)
      val expect = cc(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = graft.operators.Graph.connectedComponentsAgainst(
          cc(edges.take(cut)), edges.drop(cut).toDF("a", "b"), "a", "b",
          localMaxEdges = localMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect,
        s"cut=$cut localMax=$localMax edges=$edges:\n$got\n$expect")
    }
  }

  test("minhash signatures have the prefix property (budget bandings are servable)") {
    // bandingForBudget's consumption contract: a width-(b*r) signature
    // IS the first b*r entries of any wider signature over the same
    // hash set — seed i's minimum never depends on the width
    for (hs <- samples(longArrays, 40) if hs.nonEmpty) {
      val wide = HashKernels.minHashCompute(new GenericArrayData(hs), 64)
        .toLongArray()
      for (w <- Seq(1, 4, 11 * 4, 63)) {
        val narrow = HashKernels.minHashCompute(new GenericArrayData(hs), w)
          .toLongArray()
        assert(narrow.toSeq == wide.take(w).toSeq,
          s"width $w is not a prefix of width 64 on ${hs.length} hashes")
      }
    }
  }

  test("simHash pair banding is EXACT within maxHamming vs brute force (64 and 128 bit)") {
    import spark.implicits._
    import graft.dedup.Dedup
    // random longs are never within small Hamming radii of each other,
    // so plant near-pairs: base fingerprints plus mutants with a
    // bounded number of flipped bits (some past the radius, to prove
    // the exact-verify side too)
    val gen = for {
      nBase <- Gen.choose(2, 10)
      bases <- Gen.listOfN(nBase, Gen.choose(Long.MinValue, Long.MaxValue))
      nMut <- Gen.choose(1, 12)
      muts <- Gen.listOfN(nMut, for {
        b <- Gen.choose(0, nBase - 1)
        k <- Gen.choose(0, 9)
        bits <- Gen.listOfN(k, Gen.choose(0, 63))
      } yield (b, bits))
    } yield (bases, muts)
    for (((bases, muts), si) <- samples(gen, 9).zipWithIndex) {
      // 64-bit: alternate both banding rungs (h<=3 single blocks,
      // h<=6 block pairs); maxBucketSize=0 disables the cap, where the
      // Manku guarantee says banded candidates ⊇ all within-h pairs —
      // with exact verification, output == brute force EXACTLY
      val h64 = Seq(1, 3, 6)(si % 3)
      val fps = bases ++ muts.map { case (b, bits) =>
        bits.foldLeft(bases(b))((acc, i) => acc ^ (1L << i)) }
      val rows = fps.zipWithIndex.map { case (f, i) => (i.toLong, f) }
      val got = Dedup.simHashPairs(rows.toDF("id", "sim"), h64, maxBucketSize = 0)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").longValue))
        .toSet
      val expect = (for {
        (fa, ia) <- fps.zipWithIndex; (fb, ib) <- fps.zipWithIndex
        if ia < ib
        d = java.lang.Long.bitCount(fa ^ fb) if d <= h64
      } yield (ia.toLong, ib.toLong, d.toLong)).toSet
      assert(got == expect, s"64-bit h=$h64 sample $si: $got vs $expect")
      // 128-bit: same corpus doubled into two words, both rungs
      val h128 = Seq(5, 7, 14)(si % 3)
      val fps128 = fps.zip(fps.reverse)
      val rows128 = fps128.zipWithIndex
        .map { case ((w0, w1), i) => (i.toLong, Seq(w0, w1)) }
      val got128 = Dedup.simHash128Pairs(
          rows128.toDF("id", "sim"), h128, maxBucketSize = 0)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").longValue))
        .toSet
      val expect128 = (for {
        ((a0, a1), ia) <- fps128.zipWithIndex
        ((b0, b1), ib) <- fps128.zipWithIndex
        if ia < ib
        d = java.lang.Long.bitCount(a0 ^ b0) + java.lang.Long.bitCount(a1 ^ b1)
        if d <= h128
      } yield (ia.toLong, ib.toLong, d.toLong)).toSet
      assert(got128 == expect128, s"128-bit h=$h128 sample $si")
    }
  }

  test("banding solvers: contract and optimality on random targets") {
    import graft.dedup.Dedup
    val gen = for {
      t <- Gen.choose(0.3, 0.95)
      n <- Gen.choose(2, 160)
      r <- Gen.choose(0.8, 0.995)
    } yield (t, n, r)
    for ((t, n, target) <- samples(gen, 120)) {
      // divisor solver: exact cover + contract, or a loud refusal
      val div = try Some(Dedup.bandingFor(t, n, target))
      catch { case _: IllegalArgumentException => None }
      div match {
        case Some((b, r)) =>
          assert(b * r == n && Dedup.lshRecallAt(t, b, r) >= target,
            s"divisor contract broken: t=$t n=$n -> ($b,$r)")
        case None => // refusal must be genuine: even rows=1 misses
          assert(Dedup.lshRecallAt(t, n, 1) < target,
            s"divisor solver refused a feasible target: t=$t n=$n $target")
      }
      // budget solver: fits the budget, meets the contract, and is
      // OPTIMAL under its declared order (no steeper rows fits; no
      // fewer bands at the returned rows qualifies)
      val bud = try Some(Dedup.bandingForBudget(t, n, target))
      catch { case _: IllegalArgumentException => None }
      bud match {
        case Some((b, r)) =>
          assert(b * r <= n && Dedup.lshRecallAt(t, b, r) >= target,
            s"budget contract broken: t=$t n=$n -> ($b,$r)")
          assert(!(r + 1 to n).exists(r2 => (1 to n / r2).exists(b2 =>
            Dedup.lshRecallAt(t, b2, r2) >= target)),
            s"budget solver missed a steeper rows: t=$t n=$n -> ($b,$r)")
          assert(!(1 until b).exists(b2 =>
            Dedup.lshRecallAt(t, b2, r) >= target),
            s"budget solver missed fewer bands: t=$t n=$n -> ($b,$r)")
        case None =>
          assert(Dedup.lshRecallAt(t, n, 1) < target,
            s"budget solver refused a feasible target: t=$t n=$n $target")
      }
      // the budget solver never does worse than the divisor one on
      // its own qualifying set (divisor answers are budget-feasible)
      for ((bd, rd) <- div; (bb, rb) <- bud)
        assert(rb >= rd, s"budget rows $rb < divisor rows $rd at t=$t n=$n")
      // FEASIBILITY FRONTIER (r17 verdict 2c): re-solve with the
      // target set to the returned banding's EXACT recall — the
      // boundary is inclusive (>=), so the solver must neither refuse
      // nor return a banding below that recall
      for ((b, r) <- bud) {
        val exact = Dedup.lshRecallAt(t, b, r)
        if (exact < 1.0) { // target must stay in (0, 1)
          val (b2, r2) = Dedup.bandingForBudget(t, n, exact)
          assert(Dedup.lshRecallAt(t, b2, r2) >= exact,
            s"boundary violated: t=$t n=$n target=$exact -> ($b2,$r2)")
        }
      }
    }
  }

  // random corpora randomly split into batch/ref (EMPTY sides
  // included) with a random hot-bucket cap (off / tight / loose); a
  // 5-word alphabet makes near-dup pairs and shared buckets common
  private val crossCorpora = {
    val doc = Gen.choose(3, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
        .map(_.mkString(" ")))
    for {
      docs <- Gen.listOf(doc)
      mask <- Gen.listOfN(docs.size, Gen.oneOf(true, false))
      cap <- Gen.oneOf(0, 2, 1000)
    } yield (docs.zipWithIndex.map { case (t, j) => (j.toLong, t) }, mask, cap)
  }

  private def crossPairs(
      rows: Seq[(Long, String)], mask: Seq[Boolean], cap: Int): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    val batch = rows.zip(mask).collect { case (r, true) => r }.toDF("id", "text")
    val ref = rows.zip(mask).collect { case (r, false) => r }.toDF("id", "text")
    graft.dedup.Dedup.minHashCrossPairs(batch, ref, "text", "id",
        threshold = 0.4, maxBucketSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  test("minHashCrossPairs soundness: batch-ref pairs at shingle Jaccard >= threshold") {
    for (((rows, mask, cap), i) <- samples(crossCorpora, 6).zipWithIndex) {
      val text = rows.toMap
      val inBatch = rows.map(_._1).zip(mask).toMap
      def shingles(id: Long): Set[String] =
        text(id).split(" ").sliding(3).map(_.mkString(" ")).toSet
      for ((a, b, j) <- crossPairs(rows, mask, cap)) {
        assert(inBatch(a) && !inBatch(b), s"i=$i ($a, $b) is not batch↔ref")
        val (sa, sb) = (shingles(a), shingles(b))
        val exact = (sa & sb).size.toDouble / (sa | sb).size
        assert(exact >= 0.4 && math.abs(exact - j) < 1e-9,
          s"i=$i cap=$cap ($a, $b): reported $j, exact $exact")
      }
    }
  }

  test("minHashCrossPairs cap monotonicity: cap 2 ⊆ cap 1000 ⊆ uncapped") {
    for (((rows, mask, _), i) <- samples(crossCorpora, 6).zipWithIndex) {
      val Seq(tight, loose, uncapped) =
        Seq(2, 1000, 0).map(c => crossPairs(rows, mask, c).toSet)
      assert(tight.subsetOf(loose), s"i=$i: cap 2 kept a pair cap 1000 dropped")
      assert(loose.subsetOf(uncapped), s"i=$i: cap 1000 kept a pair the uncapped run lacks")
    }
  }

  test("LSH kernel fence ≡ unfenced reference: pair sets on random corpora, caps 0/2/1000") {
    import spark.implicits._
    import graft.dedup.{Dedup, LshReference => Ref}
    import org.apache.spark.sql.DataFrame
    def set(d: DataFrame): Set[Seq[Any]] = d.collect().map(_.toSeq).toSet
    var pairsSeen = 0
    for (((rows, mask, _), i) <- samples(crossCorpora, 3).zipWithIndex) {
      val all = rows.toDF("id", "text")
      val batch = rows.zip(mask).collect { case (r, true) => r }.toDF("id", "text")
      val ref = rows.zip(mask).collect { case (r, false) => r }.toDF("id", "text")
      val refPath = java.nio.file.Files.createTempDirectory("lsh_fence").toString + "/ref"
      Dedup.saveMinHashRef(ref, "text", "id", refPath)
      for (cap <- Seq(0, 2, 1000)) {
        val cases = Seq(
          "minHash self" -> (Dedup.minHashNearDuplicates(all, "text", "id",
            threshold = 0.4, maxBucketSize = cap),
            Ref.minHashNearDuplicates(all, "text", "id", 0.4, cap)),
          "minHashCrossPairs" -> (Dedup.minHashCrossPairs(batch, ref, "text", "id",
            threshold = 0.4, maxBucketSize = cap),
            Ref.minHashCrossPairs(batch, ref, "text", "id", 0.4, cap)),
          "minHashIncrementalEdges" -> (Dedup.minHashIncrementalEdges(batch, refPath,
            "text", "id", threshold = 0.4, maxBucketSize = cap),
            Ref.minHashIncrementalEdges(batch, refPath, "text", "id", 0.4, cap)),
          "n-gram" -> (Dedup.ngramJaccardNearDuplicates(all, "text", "id",
            threshold = 0.5, maxBucketSize = cap),
            Ref.ngramJaccardNearDuplicates(all, "text", "id", 0.5, cap)),
          "simHash" -> (Dedup.simHashNearDuplicates(all, "text", "id",
            maxHamming = 6, maxBucketSize = cap),
            Ref.simHashNearDuplicates(all, "text", "id", 6, cap)),
          "simHash128" -> (Dedup.simHash128NearDuplicates(all, "text", "id",
            maxHamming = 7, maxBucketSize = cap),
            Ref.simHash128NearDuplicates(all, "text", "id", 7, cap)))
        for ((name, (fenced, reference)) <- cases) {
          val got = set(fenced)
          assert(got == set(reference), s"i=$i cap=$cap $name: fenced ≠ reference")
          pairsSeen += got.size
        }
      }
    }
    assert(pairsSeen > 0, "every corpus paired nothing — the comparison is vacuous")
  }

  test("bloom joins: both routes agree on random corpora with nulls and duplicates") {
    import spark.implicits._
    import graft.core.DataFrameOps
    val gen = for {
      nl <- Gen.choose(0, 120)
      nr <- Gen.choose(0, 60)
      left <- Gen.listOfN(nl, Gen.oneOf(
        Gen.const(Option.empty[Long]), Gen.choose(0L, 40L).map(Option(_))))
      right <- Gen.listOfN(nr, Gen.oneOf(
        Gen.const(Option.empty[Long]), Gen.choose(0L, 40L).map(Option(_))))
    } yield (left, right)
    for (((l, r), i) <- samples(gen, 8).zipWithIndex) {
      val left = l.zipWithIndex
        .map { case (k, idx) => (k.map(Long.box).orNull, idx.toLong) }
        .toDF("k", "payload")
      val right = r.map(k => Tuple1(k.map(Long.box).orNull)).toDF("rk")
      def both(fn: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
          org.apache.spark.sql.DataFrame) = {
        def run() = fn(left, right).collect().map(_.toSeq).sortBy(_.toString)
        val viaBloom = withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run()) // bloom
        // r19: a small positive budget routes through the limit-bounded
        // probe — right sides over 3 keys see a CLIPPED count (4) and
        // must take the bloom route with bloomOverKey's own sizing,
        // never the clipped figure; within it, the broadcast fast path
        val viaClipped = withSessionConf("spark.sql.autoBroadcastJoinThreshold", "24")(run()) // 3 keys
        val viaBroadcast = run() // default budget: these sizes all broadcast
        (viaBloom, viaClipped, viaBroadcast)
      }
      val (semiB, semiC, semiS) = both(
        DataFrameOps.bloomSemiJoin(_, _, "k", "rk"))
      assert(semiB.toSeq == semiS.toSeq, s"semi diverged at sample $i")
      assert(semiC.toSeq == semiS.toSeq, s"semi clipped-probe route diverged at sample $i")
      val (antiB, antiC, antiS) = both(
        DataFrameOps.bloomAntiJoin(_, _, "k", "rk"))
      assert(antiB.toSeq == antiS.toSeq, s"anti diverged at sample $i")
      assert(antiC.toSeq == antiS.toSeq, s"anti clipped-probe route diverged at sample $i")
      // and both routes equal the plain joins they accelerate
      val plainSemi = left.join(right, left("k") === right("rk"), "left_semi")
        .collect().map(_.toSeq).sortBy(_.toString)
      val plainAnti = left.join(right, left("k") === right("rk"), "left_anti")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(semiS.toSeq == plainSemi.toSeq, s"semi != plain at sample $i")
      assert(antiS.toSeq == plainAnti.toSeq, s"anti != plain at sample $i")
    }
  }

  test("connectedComponentsAgainst: random non-contiguous splits, chained ingests, both relabel routes") {
    import spark.implicits._
    // r16 fuzzed only contiguous prefix/suffix splits of one fixture;
    // here every edge is INDEPENDENTLY assigned to history / batch 1 /
    // batch 2, and the two batches are applied as CHAINED incremental
    // ingests — artifact(hist) + b1 → artifact2 + b2 — which must equal
    // one full recompute. Samples also alternate the r17 relabel-join
    // crossover (broadcast vs shuffle fallback) and the contraction
    // route, so all four shapes hold the contract.
    val gen = for {
      n <- Gen.choose(3L, 30L)
      m <- Gen.choose(1, 50)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n), Gen.choose(0L, n)))
      mask <- Gen.listOfN(m, Gen.choose(0, 2))
    } yield (edges, mask)
    for (((edges, mask), i) <- samples(gen, 6).zipWithIndex) {
      val localMax = if (i % 2 == 0) 0L else 1000000L
      // budget -1 forces both shuffle-join fallbacks
      val budget = if (i % 3 == 0) "-1" else spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      // alternate a cap-1 canonicality probe: valid artifacts must
      // NEVER false-positive, even when only one touched label + a
      // per-partition head sample are checked (r18 touched-first
      // determinism; the cap-1 overflow path degrades with a warning,
      // never a refusal)
      if (i % 4 == 1)
        spark.conf.set(graft.operators.Graph.CanonicalProbeLabelsConf, "1")
      // r19: and the null-aware exact check — valid artifacts must not
      // false-positive under the strictest validation mode either
      if (i % 4 == 3)
        spark.conf.set(graft.operators.Graph.ValidateCanonicalArtifactConf,
          "true")
      try withSessionConf("spark.sql.autoBroadcastJoinThreshold", budget) {
        val parts = edges.zip(mask)
        def side(k: Int) = parts.collect { case (e, `k`) => e }
        def cc(e: Seq[(Long, Long)]) = graft.operators.Graph
          .connectedComponents(e.toDF("a", "b"), "a", "b",
            localMaxEdges = localMax)
        val expect = cc(edges)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val art1 = graft.operators.Graph.connectedComponentsAgainst(
          cc(side(0)), side(1).toDF("a", "b"), "a", "b",
          localMaxEdges = localMax)
        val got = graft.operators.Graph.connectedComponentsAgainst(
            art1, side(2).toDF("a", "b"), "a", "b",
            localMaxEdges = localMax)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect,
          s"i=$i localMax=$localMax mask=$mask edges=$edges:\n$got\n$expect")
      } finally {
        spark.conf.unset(graft.operators.Graph.CanonicalProbeLabelsConf)
        spark.conf.unset(graft.operators.Graph.ValidateCanonicalArtifactConf)
      }
    }
  }

  test("connectedComponentsStringIds matches a local union-find under UTF-8 byte order") {
    import spark.implicits._
    // adversarial ids: astral plane (where UTF-8 byte order and Java's
    // UTF-16 code-unit order DISAGREE — U+FFFF sorts above U+10000 in
    // UTF-16 but below it in UTF-8 bytes), combining marks vs composed
    // forms, zero-width chars, plain ascii
    val fragment: Gen[String] = Gen.oneOf(
      Gen.alphaNumChar.map(_.toString),
      Gen.oneOf("é", "é", "￿", "​", " ", "~"),
      Gen.oneOf(Seq(0x10000, 0x1F600, 0x10FFFF)
        .map(cp => new String(Character.toChars(cp)))))
    val idGen: Gen[String] =
      Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, fragment).map(_.mkString))
    val gen = for {
      ids <- Gen.listOfN(8, idGen).map(_.distinct)
      m <- Gen.choose(1, 12)
      picks <- Gen.listOfN(m, Gen.zip(Gen.choose(0, 99), Gen.choose(0, 99)))
    } yield (ids, picks)
    // Spark's string min is UTF8String order = unsigned byte order
    def ltUtf8(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    for ((ids, picks) <- samples(gen, 8) if ids.size >= 2) {
      val edges = picks.map { case (a, b) =>
        (ids(a % ids.size), ids(b % ids.size)) }
      // local union-find over the REAL strings (no hashing): nodes are
      // endpoints of non-self edges, representative = UTF-8-byte min
      val nodes = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
      def find(x: String): String =
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      for ((a, b) <- edges if a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val expect = nodes.map { x =>
        x -> nodes.filter(y => find(y) == find(x))
          .reduceLeft((p, q) => if (ltUtf8(p, q)) p else q)
      }.toMap
      val got = graft.operators.Graph.connectedComponentsStringIds(
          edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == expect,
        s"ids=${ids.map(s => s.codePoints().toArray.mkString("+"))} " +
          s"edges=$edges:\n$got\n$expect")
    }
  }

  test("mmrRerank routes agree on tie-heavy random pools") {
    import org.apache.spark.sql.functions._
    // {-1,0,1}-valued low-dim vectors collide on cosine constantly and
    // rels on a 0.2 grid collide on the 6-dp round — the argmax
    // tie-break and rounding grid get exercised, not just the math
    for ((salt, i) <- Seq(3L, 17L, 29L, 45L).zipWithIndex) {
      val k = 2 + i * 2
      val lambda = Seq(0.0, 0.3, 0.7, 1.0)(i)
      val nIds = 40 + 10 * i
      val emb = spark.range(nIds).select(col("id"),
        transform(sequence(lit(0), lit(3)), j =>
          (pmod(xxhash64(col("id"), j, lit(salt)), lit(3)) - 1)
            .cast("double")).as("vec"))
      val cands = spark.range(nIds).select(
        (col("id") % 3).as("query_id"), col("id").as("corpus_id"),
        (pmod(xxhash64(col("id"), lit(salt)), lit(5)).cast("double") / 5.0)
          .as("rel"))
      def picks(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
          java.lang.Double.doubleToLongBits(r.getDouble(3))).toMap
      val viaDriver = picks(graft.similarity.Similarity.mmrRerank(
        cands, emb, "id", "vec", k = k, lambda = lambda))
      spark.conf.set(graft.similarity.Similarity.MmrSmallPoolRowsConf, "0")
      val viaDist = try picks(graft.similarity.Similarity.mmrRerank(
          cands, emb, "id", "vec", k = k, lambda = lambda))
        finally spark.conf.unset(graft.similarity.Similarity.MmrSmallPoolRowsConf)
      assert(viaDriver == viaDist,
        s"salt=$salt k=$k lambda=$lambda:\n$viaDriver\n$viaDist")
    }
  }

  test("asOfJoin matches a local reference: all directions, exact ties, tolerance") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val gen = for {
      left <- Gen.listOf(Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 40L)))
      rightRaw <- Gen.listOf(Gen.zip(Gen.choose(0, 2),
        Gen.zip(Gen.choose(0L, 40L), Gen.choose(1, 100))))
      tol <- Gen.oneOf(Option.empty[Long], Some(0L), Some(5L))
    } yield (left,
      // unique (key, ts) on the right: duplicated right timestamps tie
      // in the window sort and the attached row is unspecified by
      // contract — the reference can only model the deterministic part
      rightRaw.groupBy(r => (r._1, r._2._1)).map(_._2.head).toList, tol)
    for ((left, right, tol) <- samples(gen, 5); dir <- graft.operators.AsOfJoin.directions) {
      val leftDf = left.map { case (k, t) => (k, ts(t)) }.toDF("k", "ts")
      val rightDf = right.map { case (k, (t, v)) => (k, ts(t), v / 4.0) }
        .toDF("k", "ts", "quote")
      val got = graft.operators.AsOfJoin.asOfJoin(
          leftDf, rightDf, Seq("k"), "ts", Seq("quote"), tol, dir)
        .collect()
        .map(r => (r.getInt(0), r.getTimestamp(1).getTime / 1000L,
          Option(r.get(2)).map(_.asInstanceOf[Double])))
        .sortBy(x => (x._1, x._2, x._3.getOrElse(-1.0)))
      val want = left.map { case (k, t) =>
        val rs = right.filter(_._1 == k)
        val back = rs.filter(_._2._1 <= t).sortBy(_._2._1).lastOption
        val fwd = rs.filter(_._2._1 >= t).sortBy(_._2._1).headOption
        val m = dir match {
          case "backward" => back
          case "forward" => fwd
          case "nearest" => (back, fwd) match {
            // strictly closer forward wins; equal deltas -> backward
            case (Some(b), Some(f)) =>
              if ((f._2._1 - t) < (t - b._2._1)) Some(f) else Some(b)
            case (b, f) => b.orElse(f)
          }
        }
        (k, t, tol.fold(m)(s => m.filter(r => math.abs(r._2._1 - t) <= s))
          .map(_._2._2 / 4.0))
      }.sortBy(x => (x._1, x._2, x._3.getOrElse(-1.0)))
      assert(got.toSeq == want,
        s"dir=$dir tol=$tol left=$left right=$right:\n${got.toSeq}\n$want")
    }
  }

  test("per-group exact quantiles: both routes, null group keys, local reference") {
    import spark.implicits._
    val qs = Seq(0.25, 0.5, 0.9)
    // `rows` are (group key values, value); the group keys of a result
    // row are its first `keys.size` fields, nulls included
    def check(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
        rows: Seq[(Seq[Any], Double)]): Unit = {
      val k = keys.size
      def both() = (
        graft.core.Quantiles.exactQuantiles(df, "v", qs, keys)
          .collect().map(r => (Seq.tabulate(k)(r.get), r.getDouble(k)) ->
            r.getDouble(k + 1)).toMap,
        graft.core.Quantiles.exactInterpolatedQuantiles(df, "v", qs, keys)
          .collect().map(r => (Seq.tabulate(k)(r.get), r.getDouble(k)) ->
            java.lang.Double.doubleToLongBits(r.getDouble(k + 1))).toMap)
      val viaAggregate = both()
      val viaRanks = withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1")(both())
      assert(viaAggregate == viaRanks,
        s"routes diverged on $rows:\n$viaAggregate\n$viaRanks")
      val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
      for ((g, vs) <- byG; q <- qs) {
        val want = vs(math.floor(q * (vs.length - 1)).toInt)
        assert(viaAggregate._1((g, q)) == want,
          s"type-1 ($g,$q): got ${viaAggregate._1((g, q))} want $want")
      }
    }
    val value = Gen.choose(-60, 60).map(_ / 3.0)
    val gen = Gen.listOf(Gen.zip(
      Gen.oneOf(Option.empty[String], Some("a"), Some("b")), value))
    for (rows <- samples(gen, 6) if rows.nonEmpty)
      check(rows.toDF("g", "v").repartition(4), Seq("g"),
        rows.map { case (g, v) => (Seq(g.orNull), v) })
    // two keys, nulls in each: the null-safe match must hold per key
    val gen2 = Gen.listOf(Gen.zip(
      Gen.oneOf(Option.empty[String], Some("a"), Some("b")),
      Gen.oneOf(Option.empty[Int], Some(1), Some(2)), value))
    for (rows <- samples(gen2, 6) if rows.nonEmpty)
      check(rows.toDF("g", "h", "v").repartition(4), Seq("g", "h"),
        rows.map { case (g, h, v) => (Seq(g.orNull, h.map(Int.box).orNull), v) })
  }

  test("assignContiguousIds / assignGroupRanks: contiguous, order-consistent, null groups kept") {
    import spark.implicits._
    val gen = Gen.listOf(Gen.zip(
      Gen.oneOf(Option.empty[String], Some("a"), Some("b"), Some("c")),
      Gen.choose(-40, 40).map(_ / 4.0)))
    for (rows <- samples(gen, 6) if rows.nonEmpty) {
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("g", "v", "uid").repartition(5)
      // GLOBAL ids on a unique total order: ids are exactly 0..n-1 and
      // values along ids are the sorted multiset
      val global = graft.operators.Ids
        .assignContiguousIds(df, Seq("v", "uid"), "rid")
        .select("v", "rid").collect()
        .map(r => r.getLong(1) -> r.getDouble(0)).sortBy(_._1)
      assert(global.map(_._1).toSeq == (0L until rows.length.toLong),
        s"ids not contiguous: ${global.toSeq}")
      assert(global.map(_._2).toSeq == rows.map(_._2).sorted,
        "values along ids must be the sorted multiset")
      // PER-GROUP ranks: contiguous within every group (null included),
      // values at ranks are the group's sorted multiset
      val ranks = graft.operators.Ids
        .assignGroupRanks(df, Seq("g"), Seq("v", "uid"), "gr")
        .select("g", "v", "gr").collect()
        .map(r => (Option(r.getString(0)), r.getDouble(1), r.getLong(2)))
      assert(ranks.length == rows.length, "no row may be dropped (null groups!)")
      for ((g, members) <- ranks.groupBy(_._1)) {
        val sortedByRank = members.sortBy(_._3)
        assert(sortedByRank.map(_._3).toSeq == (0L until members.length.toLong),
          s"group $g ranks not contiguous: ${members.toSeq}")
        assert(sortedByRank.map(_._2).toSeq ==
          rows.filter(_._1 == g).map(_._2).sorted,
          s"group $g values along ranks must be its sorted multiset")
      }
    }
  }

  test("packShards matches the sequential exclusive-cumsum fold per stratum") {
    import spark.implicits._
    val gen = Gen.zip(
      Gen.listOf(Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 9L))),
      Gen.oneOf(5.0, 16.0))
    for ((rows, budget) <- samples(gen, 6) if rows.nonEmpty) {
      val withUid = rows.zipWithIndex.map { case ((g, w), i) => (g, w, i.toLong) }
      val got = graft.core.Sampling.packShards(
          withUid.toDF("g", "w", "uid").repartition(4),
          "w", budget, Seq("g"), "uid")
        .select("g", "uid", "shard_id").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = withUid.groupBy(_._1).flatMap { case (g, ms) =>
        var cum = 0L
        ms.sortBy(_._3).map { case (_, w, uid) =>
          val shard = math.floor(cum / budget).toLong
          cum += w
          (g, uid) -> shard
        }
      }
      assert(got == want, s"budget=$budget rows=$withUid:\n$got\n$want")
    }
  }

  test("quantileDiscretize: both routes agree; ties at a bound go LOW") {
    import spark.implicits._
    // a coarse value grid guarantees values land EXACTLY ON the
    // interpolated bounds, exercising the strictly-below tie rule
    val gen = Gen.zip(
      Gen.listOf(Gen.choose(0, 8).map(_.toDouble)), Gen.choose(2, 5))
    for ((vals, nb) <- samples(gen, 6) if vals.size >= 2 && vals.distinct.size >= 2) {
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("uid", "v").repartition(4)
      def run() = graft.core.Stats.quantileDiscretize(df, "v", nb)
        .select("uid", "v_bucket").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val viaAggregate = run()
      val viaRanks = withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run())
      assert(viaAggregate == viaRanks,
        s"routes diverged on $vals nb=$nb:\n$viaAggregate\n$viaRanks")
      // reference: bucket = count of interior bounds STRICTLY below v
      // (bounds from the already-fuzzed interpolated quantiles)
      val bounds = graft.core.Quantiles.exactInterpolatedQuantiles(
          df, "v", (1 until nb).map(_.toDouble / nb))
        .collect().map(_.getDouble(1))
      for ((v, i) <- vals.zipWithIndex) {
        val want = bounds.count(b => v > b)
        assert(viaAggregate(i.toLong) == want,
          s"v=$v nb=$nb bounds=${bounds.toSeq}: got ${viaAggregate(i.toLong)} want $want")
      }
    }
  }

  test("substring dedup: incremental split equals the batch operator; hash keys equal exact") {
    import spark.implicits._
    // 3-word vocab, k=3: duplicated windows everywhere, docs shorter
    // than k, whole-doc removals, spans overlapping removed regions
    val doc = Gen.choose(0, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    val gen = for {
      docs <- Gen.listOf(doc)
      cut <- Gen.choose(0, docs.size)
    } yield (docs, cut)
    for ((docs, cut) <- samples(gen, 5) if docs.nonEmpty) {
      val all = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def toDf(rows: Seq[(Long, String)]) = rows.toDF("id", "text")
      def outMap(df: org.apache.spark.sql.DataFrame) = df
        .select("id", "text_deduped").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      for (hashKeys <- Seq(false, true)) {
        val full = outMap(graft.dedup.SubstringDedup.dedupSubstrings(
          toDf(all), "id", "text", k = 3, hashKeys = hashKeys))
        // incremental: base ingested first (its own dedup), the batch
        // cleaned against the base's windows + within itself — ids are
        // ordered base < batch, so union first-occurrence semantics match
        val incr = outMap(graft.dedup.SubstringDedup.dedupSubstrings(
            toDf(all.take(cut)), "id", "text", k = 3, hashKeys = hashKeys)) ++
          outMap(graft.dedup.SubstringDedup.dedupSubstringsAgainst(
            toDf(all.take(cut)), toDf(all.drop(cut)), "id", "text", k = 3,
            hashKeys = hashKeys))
        assert(incr == full,
          s"hashKeys=$hashKeys cut=$cut docs=$docs:\n$incr\n$full")
      }
      // the 8-byte hash-key scale path must equal the exact-string path
      val exact = outMap(graft.dedup.SubstringDedup.dedupSubstrings(
        toDf(all), "id", "text", k = 3))
      val hashed = outMap(graft.dedup.SubstringDedup.dedupSubstrings(
        toDf(all), "id", "text", k = 3, hashKeys = true))
      assert(exact == hashed, s"hash-key path diverged on $docs")
    }
  }

  test("decontamination: all three adaptive rungs equal on random corpora") {
    import spark.implicits._
    val doc = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    val gen = for {
      train <- Gen.listOf(doc)
      evalDocs <- Gen.listOf(doc) // includes the EMPTY eval side
      minHits <- Gen.choose(1, 2)
    } yield (train, evalDocs, minHits)
    for ((train, evalDocs, minHits) <- samples(gen, 5) if train.nonEmpty) {
      val trainDf = train.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val evalDf = evalDocs.zipWithIndex
        .map { case (t, i) => (1000L + i, t) }.toDF("id", "text")
      val exact = graft.dedup.Dedup.decontaminate(trainDf, evalDf,
          "text", "id", n = 3, minHits = minHits)
        .select("id").as[Long].collect().toSet
      def bloom(pin: Boolean, maxGrams: Int): Set[Long] = {
        def go = graft.dedup.Dedup.bloomDecontaminate(trainDf, evalDf, "text", "id",
            n = 3, minHits = minHits, maxDriverGrams = maxGrams)
          .select("id").as[Long].collect().toSet
        if (pin) withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1")(go) else go
      }
      for ((pin, maxGrams) <- Seq((false, 4 << 20), (true, 4 << 20), (true, 1))) {
        val got = bloom(pin, maxGrams)
        assert(got == exact,
          s"rung pin=$pin maxGrams=$maxGrams diverged (minHits=$minHits, " +
            s"train=$train eval=$evalDocs):\n$got\n$exact")
      }
    }
  }

  /** A random minhash base's `(id, hs)` rows: ids drawn with replacement
    * from a small range (duplicates) and sometimes null; hash sets
    * perturbed from four families over a small universe, so many pairs
    * pass a 0.5 threshold, and sometimes empty or null; plus six rows
    * with one hash set, whose buckets hold more than a cap of 4. */
  private val lshBaseRows: Gen[Seq[(Option[Int], Option[Seq[Long]])]] = {
    val hs = for {
      fam <- Gen.choose(0, 3)
      drop <- Gen.listOfN(3, Gen.choose(0, 11))
      add <- Gen.listOfN(3, Gen.choose(0, 20))
      kind <- Gen.frequency(18 -> 0, 1 -> 1, 1 -> 2)
    } yield kind match {
      case 0 => Some(((0 until 12).filterNot(drop.contains) ++ add.map(_ + 100))
        .map(fam * 1000L + _).distinct.sorted)
      case 1 => Some(Seq.empty[Long])
      case _ => None
    }
    for {
      n <- Gen.choose(10, 28)
      ids <- Gen.listOfN(n, Gen.frequency(9 -> Gen.choose(0, n).map(Option(_)),
        1 -> Gen.const(Option.empty[Int])))
      sets <- Gen.listOfN(n, hs)
    } yield ids.zip(sets) ++ (0 until 6).map(k => (Option(200 + k), Option((500L until 512L).toSeq)))
  }

  /** `rows` as a 16-hash minhash base with ids of `idType`. */
  private def lshBase(rows: Seq[(Option[Int], Option[Seq[Long]])], idType: String) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val (dt, id): (DataType, Int => Any) = idType match {
      case "int" => (IntegerType, i => i)
      case "long" => (LongType, i => i * 3000000000L)
      case "string" => (StringType, i => s"d$i") // "d10" < "d9": byte order, not numeric
    }
    val schema = StructType(Seq(StructField("id", dt), StructField("hs", ArrayType(LongType))))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, h) => Row(i.map(id).orNull, h.orNull) }: _*),
      schema)
      .withColumn("sig", graft.functions.HashFunctions.minHashSignatureNative(col("hs"), 16))
  }

  /** The LSH pairing of a collected 4 × 4-banded base, over all pairs
    * of rows: a candidate is an id pair `a < b` (`lt`) with some rows
    * sharing a bucket of at most `cap` rows (`cap <= 0`: any), and every
    * row of `a` is verified against every row of `b`. */
  private def allPairsReference(base: org.apache.spark.sql.DataFrame, cap: Int,
      threshold: Double, lt: (Any, Any) => Boolean): Seq[(Any, Any, Double)] = {
    val rows = base.collect()
    def arr(i: Int, c: Int) =
      if (rows(i).isNullAt(c)) None else Some(new GenericArrayData(rows(i).getSeq[Long](c).toArray))
    val buckets = rows.indices.map(i => arr(i, 2).map { sig =>
      val b = HashKernels.bandBuckets(sig, 4, 4); (0 until 4).map(b.getLong) })
    val size = buckets.flatten.flatMap(_.zipWithIndex).groupBy(identity).view.mapValues(_.size).toMap
    def id(i: Int) = rows(i).get(0)
    val candidates = (for {
      i <- rows.indices; j <- rows.indices
      if id(i) != null && id(j) != null && lt(id(i), id(j))
      bi <- buckets(i); bj <- buckets(j)
      if (0 until 4).exists(b => bi(b) == bj(b) && (cap <= 0 || size((bi(b), b)) <= cap))
    } yield (id(i), id(j))).distinct
    for {
      (a, b) <- candidates
      i <- rows.indices if id(i) == a
      j <- rows.indices if id(j) == b
      hi <- arr(i, 1); hj <- arr(j, 1)
      jaccard = HashKernels.hashJaccard(hi, hj)
      if jaccard >= threshold
    } yield (a, b, jaccard)
  }

  private def pairRows(d: org.apache.spark.sql.DataFrame): Seq[String] =
    d.collect().map(r => (r.get(0), r.get(1), r.getDouble(2)).toString).toSeq.sorted

  private def plansJoin(d: org.apache.spark.sql.DataFrame): Boolean =
    d.queryExecution.executedPlan.toString.contains("Join")

  test("verifiedPairsFromBase: driver and distributed routes equal the all-pairs reference") {
    val lt: Map[String, (Any, Any) => Boolean] = Map(
      "int" -> ((a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]),
      "long" -> ((a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]),
      "string" -> ((a, b) => a.asInstanceOf[String] < b.asInstanceOf[String])) // ASCII ids
    var pairsSeen = 0
    for (((rows, idType), i) <- samples(lshBaseRows, 6)
        .zip(Iterator.continually(Seq("int", "long", "string")).flatten).zipWithIndex;
        cap <- Seq(0, 4, 1000)) {
      val base = lshBase(rows, idType)
      val want = allPairsReference(base, cap, 0.5, lt(idType)).map(_.toString).sorted
      // the default budget pairs on the driver; -1 and a 1-byte budget
      // (under the base's size statistic) take the distributed route
      for ((budget, distributed) <- Seq(("10485760", false), ("-1", true), ("1", true))) {
        withSessionConf("spark.sql.autoBroadcastJoinThreshold", budget) {
          val out = graft.dedup.Dedup.verifiedPairsFromBase(base, 4, 4, 0.5, cap)
          assert(plansJoin(out) == distributed,
            s"i=$i $idType cap=$cap budget=$budget: wrong route")
          assert(pairRows(out) == want, s"i=$i $idType cap=$cap budget=$budget:\n" +
            s"${pairRows(out).take(10)}\nvs reference\n${want.take(10)}")
        }
      }
      pairsSeen += want.size
    }
    assert(pairsSeen > 0, "every corpus paired nothing — the comparison is vacuous")
  }

  test("verifiedPairsFromBase: a collect or pair set over the budget falls back to the distributed route") {
    import org.apache.spark.sql.functions.col
    // 60 rows of one hash set: every band holds one bucket of 60 rows
    val rows = (0 until 60).map(i => (Option(i), Option((0L until 12L).toSeq))) ++
      (0 until 8).map(i => (Option(100 + i), Option((0L until 12L).map(_ + i).toSeq)))
    val base = lshBase(rows, "long")
    val want = allPairsReference(base, 0, 0.5, (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])
      .map(_.toString).sorted
    val estimate = base.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val bytes = base.select(col("id"), col("hs"),
        graft.functions.HashFunctions.bandBucketsNative(col("sig"), 4, 4))
      .queryExecution.toRdd
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow].getSizeInBytes.toLong)
      .sum().toLong
    val pairBytes = 4 * (60L * 59 / 2) * 16
    assert(estimate < bytes && 2 * bytes < pairBytes, s"estimate $estimate, bytes $bytes")
    // over the statistic, under the collect: the runtime byte bound;
    // under the collect, over the pairs: the pair bound; then room for both
    for ((budget, distributed) <- Seq((estimate + 1, true), (2 * bytes, true), (2 * pairBytes, false))) {
      withSessionConf("spark.sql.autoBroadcastJoinThreshold", budget.toString) {
        val out = graft.dedup.Dedup.verifiedPairsFromBase(base, 4, 4, 0.5, 0)
        assert(plansJoin(out) == distributed, s"budget=$budget: wrong route")
        assert(pairRows(out) == want, s"budget=$budget: output differs from the reference")
      }
    }
  }
}
