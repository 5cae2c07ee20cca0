package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = df("id BIGINT, text STRING",
    Seq(1L, "the quick brown fox jumps over the lazy dog"),
    Seq(2L, "The  Quick Brown Fox jumps over the lazy dog"), // exact dup after normalise
    Seq(3L, "the quick brown fox jumps over the lazy cat"),  // near dup
    Seq(4L, "completely different content about spark engines and shuffles"))

  test("exactDedup keeps lowest id per normalised fingerprint, schema unchanged") {
    val out = Dedup.exactDedup(docs, "text", "id")
    assert(out.columns.toSeq == docs.columns.toSeq) // regression: helper cols leaked (ADVICE #5)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
  }

  test("exactDedup tolerates user columns named fingerprint/rn") {
    val d = docs.withColumn("fingerprint", lit("keep")).withColumn("rn", lit(7))
    val out = Dedup.exactDedup(d, "text", "id")
    assert(out.columns.toSeq == d.columns.toSeq)
    assert(out.select("fingerprint").as[String].collect().forall(_ == "keep"))
  }

  test("shingles produces distinct k-token shingles; short docs collapse") {
    val s = Seq("a b c d").toDF("t")
      .select(MinHashHof.shingles($"t", 3).as("sh")).as[Seq[String]].head()
    assert(s.toSet == Set("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(MinHashHof.shingles($"t", 3).as("sh")).as[Seq[String]].head()
    assert(short == Seq("a b"))
  }

  test("minHashSignature has requested length and is deterministic") {
    val sig = Seq("x y z w v").toDF("t")
      .select(MinHashHof.minHashSignature(MinHashHof.shingles($"t", 2), 16).as("s"))
      .as[Seq[Long]].head()
    assert(sig.length == 16)
    val sig2 = Seq("x y z w v").toDF("t")
      .select(MinHashHof.minHashSignature(MinHashHof.shingles($"t", 2), 16).as("s"))
      .as[Seq[Long]].head()
    assert(sig == sig2)
  }

  test("minHashNearDuplicates finds exact and near duplicates with correct jaccard") {
    val out = Dedup.minHashNearDuplicates(docs, "text", "id", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.contains((1L, 2L)))
    assert(math.abs(out((1L, 2L)) - 1.0) < 1e-12) // identical shingle sets after normalise?
  }

  test("minHash near-dup pair (1,3) has plausible jaccard when threshold lowered") {
    val out = Dedup.minHashNearDuplicates(docs, "text", "id", threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    out.get((1L, 3L)).foreach(j => assert(j > 0.3 && j < 1.0))
  }

  test("minHash candidate pairs never include the unrelated document") {
    val out = Dedup.minHashNearDuplicates(docs, "text", "id", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!out.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simHash: identical normalised texts share fingerprints; near dups are close") {
    val hashes = docs.select($"id", Dedup.simHash($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) < 20)
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(4L)) >
      java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)))
  }

  test("simHashNearDuplicates reports hamming distance pairs") {
    val out = Dedup.simHashNearDuplicates(docs, "text", "id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 2L, 0)))
  }

  test("simHashPairs recovers a planted Hamming-5 pair at maxHamming 5..6") {
    // flips at bits {0,1,16,32,48} corrupt ALL four 16-bit blocks, so
    // the old 4-block banding could never bucket this pair together;
    // the 8-block C(8,2) combo index must (blocks 1,3,5,7 stay clean)
    val flipped = Seq(0, 1, 16, 32, 48).map(b => 1L << b).reduce(_ | _)
    val fps = df("id BIGINT, sim BIGINT", Seq(1L, 0L), Seq(2L, flipped))
    for (h <- 5 to 6) {
      val out = Dedup.simHashPairs(fps, maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(out == Seq((1L, 2L, 5)),
        s"maxHamming=$h must recover the planted Hamming-5 pair, got $out")
    }
  }

  test("simHashPairs verification excludes pairs beyond maxHamming") {
    // Hamming-6 pair: guaranteed candidate at maxHamming=6, filtered at 5
    val flipped = Seq(0, 1, 16, 32, 48, 49).map(b => 1L << b).reduce(_ | _)
    val fps = df("id BIGINT, sim BIGINT", Seq(1L, 0L), Seq(2L, flipped))
    assert(Dedup.simHashPairs(fps, maxHamming = 6).count() == 1)
    assert(Dedup.simHashPairs(fps, maxHamming = 5).count() == 0)
  }

  test("simHash banding rejects maxHamming beyond the recall guarantee") {
    assertThrows[IllegalArgumentException](
      Dedup.simHashNearDuplicates(docs, "text", "id", maxHamming = 7))
  }

  test("SimHash radius is rejected before the fingerprint fence runs a job") {
    for ((name, build) <- Seq[(String, () => Any)](
        "simHashNearDuplicates" ->
          (() => Dedup.simHashNearDuplicates(docs, "text", "id", maxHamming = 7)),
        "simHash128NearDuplicates" ->
          (() => Dedup.simHash128NearDuplicates(docs, "text", "id", maxHamming = 15)))) {
      val m = graft.observability.RunMetricsProbe.measureEager(spark) {
        assertThrows[IllegalArgumentException](build()); ()
      }
      assert(m.jobs == 0, s"$name ran ${m.jobs} jobs before rejecting the radius")
    }
  }

  test("simHash128: word 0 equals the 64-bit simHash; identical texts collide") {
    val rows = docs.select($"id", Dedup.simHash($"text").as("h64"),
      Dedup.simHash128($"text").as("h128"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    rows.values.foreach { case (h64, h128) =>
      assert(h128.length == 2)
      assert(h128.head == h64) // extension, not a different hash family
    }
    assert(rows(1L)._2 == rows(2L)._2)
    val ham13 = java.lang.Long.bitCount(rows(1L)._2(0) ^ rows(3L)._2(0)) +
      java.lang.Long.bitCount(rows(1L)._2(1) ^ rows(3L)._2(1))
    val ham14 = java.lang.Long.bitCount(rows(1L)._2(0) ^ rows(4L)._2(0)) +
      java.lang.Long.bitCount(rows(1L)._2(1) ^ rows(4L)._2(1))
    assert(ham13 < ham14) // near dup closer than unrelated, at 128 bits too
  }

  test("simHash128Pairs recovers a planted Hamming-8 pair (the 64-bit ceiling)") {
    // one flip in each 8-bit block of word 0: all 8 of word 0's blocks
    // corrupt, so recall rides entirely on word 1's clean blocks — the
    // radius the 64-bit fingerprint structurally cannot index
    val flipped = (0 until 8).map(b => 1L << (b * 8)).reduce(_ | _)
    val fps = df("id BIGINT, sim ARRAY<BIGINT>",
      Seq(1L, Seq(0L, 0L)), Seq(2L, Seq(flipped, 0L)))
    for (h <- 8 to 14) {
      val out = Dedup.simHash128Pairs(fps, maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(out == Seq((1L, 2L, 8)),
        s"maxHamming=$h must recover the planted Hamming-8 pair, got $out")
    }
  }

  test("simHash128Pairs recovers a worst-case Hamming-14 pair across both words") {
    // 14 flips in 14 DISTINCT 8-bit blocks (7 per word): exactly two
    // clean blocks remain — the pigeonhole minimum the C(16,2) pair
    // index guarantees
    val w0 = (0 until 7).map(b => 1L << (b * 8)).reduce(_ | _)
    val w1 = (0 until 7).map(b => 1L << (b * 8 + 1)).reduce(_ | _)
    val fps = df("id BIGINT, sim ARRAY<BIGINT>",
      Seq(1L, Seq(0L, 0L)), Seq(2L, Seq(w0, w1)))
    val out = Dedup.simHash128Pairs(fps, maxHamming = 14)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out == Seq((1L, 2L, 14)))
  }

  test("simHash128Pairs h<=7 rung: single 16-bit blocks catch 7 spread flips") {
    // 7 flips in 7 distinct 16-bit blocks; block 7 stays clean
    val w0 = (0 until 4).map(b => 1L << (b * 16)).reduce(_ | _)
    val w1 = (0 until 3).map(b => 1L << (b * 16)).reduce(_ | _)
    val fps = df("id BIGINT, sim ARRAY<BIGINT>",
      Seq(1L, Seq(0L, 0L)), Seq(2L, Seq(w0, w1)))
    val out = Dedup.simHash128Pairs(fps, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out == Seq((1L, 2L, 7)))
  }

  test("simHash128 banding rungs: radius 7 costs 8 bands, radius 8 costs 120") {
    // the cost cliff the default radius (7) deliberately stays under:
    // one radius past the 8-band guarantee buys the full C(16,2) rung
    assert(Dedup.simHash128Rung(7) == (8, 1))
    assert(Dedup.simHash128Rung(8) == (16, 2))
    assert(Dedup.simHash128BandCount(7) == 8)
    assert(Dedup.simHash128BandCount(8) == 120)
    assert(Dedup.simHash128BandCount(14) == 120)
  }

  test("simHashBandCount equals the simHashBandBuckets array size for every radius") {
    // the streaming store probe sizes its broadcast guard by this count
    val sizes = Seq(0L).toDF("sim").select(
      (0 to 6).map(h => size(Dedup.simHashBandBuckets(col("sim"), h))): _*).head()
    for (h <- 0 to 6)
      assert(Dedup.simHashBandCount(h) == sizes.getInt(h), s"h=$h")
  }

  test("simHash128Pairs fails loudly on malformed fingerprint input") {
    // wrong column type: static error, not silently-null buckets
    val wrongType = df("id BIGINT, sim BIGINT", Seq(1L, 0L))
    assertThrows[IllegalArgumentException](
      Dedup.simHash128Pairs(wrongType, maxHamming = 7))
    val noSim = df("id BIGINT, other BIGINT", Seq(1L, 0L))
    assertThrows[IllegalArgumentException](
      Dedup.simHash128Pairs(noSim, maxHamming = 7))
    // wrong array length: runtime error at banding, not dropped recall
    val shortArr = df("id BIGINT, sim ARRAY<BIGINT>",
      Seq(1L, Seq(0L)), Seq(2L, Seq(0L, 0L)))
    val ex = intercept[Exception](
      Dedup.simHash128Pairs(shortArr, maxHamming = 7).count())
    assert(ex.getMessage != null)
  }

  test("simHash128Pairs row guard is evaluated once per row, not per band") {
    // the wrong-length guard lives in ONE filter over the validated
    // frame — wrapping each block access would re-evaluate it 240× per
    // row on the C(16,2) rung (2 accesses × 120 bands). The optimized
    // plan may repeat the filter subtree once per reuse of the base
    // frame (payload re-joins), but never once per band expression.
    // Parquet-backed input: over a literal LocalRelation the optimizer
    // (ConvertToLocalRelation) evaluates the filter eagerly and the
    // guard would show 0 occurrences regardless of placement.
    val dir = java.nio.file.Files.createTempDirectory("graft_guard").toString
    df("id BIGINT, sim ARRAY<BIGINT>",
      Seq(1L, Seq(0L, 0L)), Seq(2L, Seq(1L, 0L)))
      .write.mode("overwrite").parquet(dir)
    val plan = Dedup.simHash128Pairs(spark.read.parquet(dir), maxHamming = 14)
      .queryExecution.optimizedPlan.toString
    val guards = "raise_error".r.findAllIn(plan).size
    assert(guards >= 1, "the wrong-length guard must survive optimization")
    assert(guards < 10,
      s"guard appears $guards times — expected once per base-frame reuse, " +
        "not once per band (120-band rung would show ~240)")
  }

  test("simHash128Pairs recall contract fuzz: random fingerprints, random flips") {
    // seeded randomized version of the planted worst cases: any pair
    // within the radius must be recovered, at both banding rungs
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 10; h <- Seq(7, 14)) {
      val w0 = rnd.nextLong(); val w1 = rnd.nextLong()
      val nFlips = 1 + rnd.nextInt(h)
      // distinct bit positions in [0, 128)
      val flips = rnd.shuffle((0 until 128).toList).take(nFlips)
      val f0 = flips.filter(_ < 64).foldLeft(0L)((a, b) => a | (1L << b))
      val f1 = flips.filter(_ >= 64).foldLeft(0L)((a, b) => a | (1L << (b - 64)))
      val fps = df("id BIGINT, sim ARRAY<BIGINT>",
        Seq(1L, Seq(w0, w1)), Seq(2L, Seq(w0 ^ f0, w1 ^ f1)))
      val out = Dedup.simHash128Pairs(fps, maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(out == Seq((1L, 2L, nFlips)),
        s"trial $trial h=$h flips=$nFlips: expected the planted pair, got $out")
    }
  }

  test("simHash128Pairs verification excludes pairs beyond maxHamming") {
    val w0 = (0 until 9).map(b => 1L << (b * 7)).reduce(_ | _) // Hamming 9
    val fps = df("id BIGINT, sim ARRAY<BIGINT>",
      Seq(1L, Seq(0L, 0L)), Seq(2L, Seq(w0, 0L)))
    assert(Dedup.simHash128Pairs(fps, maxHamming = 9).count() == 1)
    assert(Dedup.simHash128Pairs(fps, maxHamming = 8).count() == 0)
  }

  test("simHash128NearDuplicates end-to-end: exact dup at hamming 0, radius guard") {
    val out = Dedup.simHash128NearDuplicates(docs, "text", "id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 2L, 0)))
    assertThrows[IllegalArgumentException](
      Dedup.simHash128NearDuplicates(docs, "text", "id", maxHamming = 15))
  }

  test("charNgrams and ngramJaccard") {
    val grams = Seq("abcd").toDF("t")
      .select(Dedup.charNgrams($"t", 3).as("g")).as[Seq[String]].head()
    assert(grams.toSet == Set("abc", "bcd"))
    val j = Seq(("abcd", "abce")).toDF("a", "b")
      .select(Dedup.ngramJaccard($"a", $"b", 3).as("j")).as[Double].head()
    assert(math.abs(j - 1.0 / 3.0) < 1e-12) // {abc,bcd} vs {abc,bce}
  }

  test("ngramJaccardAllPairs equals LSH-blocked variant on a small corpus") {
    val exact = Dedup.ngramJaccardAllPairs(docs, "text", "id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.ngramJaccardNearDuplicates(docs, "text", "id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))   // LSH may only miss, never invent
    assert(lsh.contains((1L, 2L))) // identical docs always collide
  }

  test("dropNearDuplicates keeps lowest id of each matched pair") {
    val pairs = df("id_a BIGINT, id_b BIGINT", Seq(1L, 2L), Seq(3L, 4L))
    val kept = Dedup.dropNearDuplicates(docs, pairs, "id")
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("duplicateClusters propagates the minimum id across chains") {
    // chain 1-2-3 plus isolated pair 10-11: clusters {1,2,3} and {10,11}
    val pairs = df("id_a BIGINT, id_b BIGINT",
      Seq(1L, 2L), Seq(2L, 3L), Seq(10L, 11L))
    val clusters = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicateClusters handles long chains within iteration budget") {
    val pairs = df("id_a BIGINT, id_b BIGINT",
      (1L to 9L).map(i => Seq[Any](i, i + 1)): _*)
    val clusters = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.values.toSet == Set(1L))
    assert(clusters.size == 10)
  }

  test("duplicateClusters converges on a 60-node chain in O(log n) rounds") {
    // regression: plain neighbour-min propagation needs diameter (59)
    // rounds here and silently split the cluster at the old maxIter=10;
    // star contraction must finish well within 8 rounds.
    // localMaxEdges = 0 forces the distributed path
    val pairs = df("id_a BIGINT, id_b BIGINT",
      (1L to 59L).map(i => Seq[Any](i, i + 1)): _*)
    val clusters = Dedup.duplicateClusters(pairs, maxIter = 8, localMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 60)
    assert(clusters.values.toSet == Set(1L),
      s"chain must collapse to one cluster, got ${clusters.values.toSet}")
  }

  test("duplicateClusters signals non-convergence instead of splitting") {
    val pairs = df("id_a BIGINT, id_b BIGINT",
      (1L to 59L).map(i => Seq[Any](i, i + 1)): _*)
    assertThrows[IllegalStateException](
      Dedup.duplicateClusters(pairs, maxIter = 1, localMaxEdges = 0))
  }

  test("driver-side union-find path equals the distributed contraction") {
    val pairs = df("id_a BIGINT, id_b BIGINT",
      Seq(1L, 2L), Seq(2L, 3L), Seq(10L, 11L), Seq(11L, 12L), Seq(5L, 3L))
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(toMap(Dedup.duplicateClusters(pairs)) ==
      toMap(Dedup.duplicateClusters(pairs, localMaxEdges = 0)))
  }

  test("duplicateClusters on a small graph runs at most 3 jobs, collect included") {
    val pairs = df("id_a BIGINT, id_b BIGINT",
      Seq(1L, 2L), Seq(2L, 3L), Seq(10L, 11L), Seq(5L, 3L))
    var labels = Map.empty[Long, Long]
    val m = graft.observability.RunMetricsProbe.measureEager(spark) {
      labels = Dedup.duplicateClusters(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(m.jobs <= 3, s"small-graph clustering ran ${m.jobs} jobs")
  }

  test("duplicateClusters: reversed and repeated pairs count once toward localMaxEdges") {
    // 8 input rows, 3 distinct undirected edges once canonicalised
    val pairs = df("id_a BIGINT, id_b BIGINT",
      Seq(1L, 2L), Seq(2L, 1L), Seq(1L, 2L), Seq(3L, 2L), Seq(2L, 3L),
      Seq(4L, 4L), Seq(10L, 11L), Seq(11L, 10L))
    def hasJoin(d: org.apache.spark.sql.DataFrame) = d.queryExecution.optimizedPlan
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join])
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = Dedup.duplicateClusters(pairs, localMaxEdges = 3)
    val distributed = Dedup.duplicateClusters(pairs, localMaxEdges = 2)
    assert(!hasJoin(local), "3 distinct edges within localMaxEdges = 3 must stay local")
    assert(hasJoin(distributed), "3 distinct edges over localMaxEdges = 2 must distribute")
    assert(toMap(local) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(toMap(local) == toMap(distributed))
  }

  test("keepClusterRepresentatives keeps the best-scoring member per cluster") {
    val corpus = df("id BIGINT, text STRING, score INT",
      Seq(1L, "aa", 5), Seq(2L, "bb", 9), Seq(3L, "cc", 9), // chain 1-2-3: 2 wins (score tie → lowest id)
      Seq(7L, "dd", 1))                                     // unpaired: survives
    val pairs = df("id_a BIGINT, id_b BIGINT", Seq(1L, 2L), Seq(2L, 3L))
    val kept = Dedup.keepClusterRepresentatives(corpus, pairs, "id", "score")
    assert(kept.columns.toSeq == corpus.columns.toSeq)
    assert(kept.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 7L))
  }

  test("keepClusterRepresentatives rejects reserved column names") {
    val corpus = df("id BIGINT, cluster_id BIGINT", Seq(1L, 1L))
    val pairs = df("id_a BIGINT, id_b BIGINT", Seq(1L, 2L))
    assertThrows[IllegalArgumentException](
      Dedup.keepClusterRepresentatives(corpus, pairs, "id", "cluster_id"))
  }

  test("bucket cap drops oversized buckets instead of exploding") {
    // 30 identical docs -> one bucket of 30; cap of 5 suppresses the pairs
    val many = spark.range(30).toDF("id").withColumn("text", lit("same text here okay"))
    val capped = Dedup.minHashNearDuplicates(many, "text", "id", maxBucketSize = 5)
    assert(capped.count() == 0)
    val uncapped = Dedup.minHashNearDuplicates(many, "text", "id", maxBucketSize = 0)
    assert(uncapped.count() == 30L * 29 / 2)
  }

  test("decontaminate drops train docs sharing n-grams with eval") {
    val train = df("id BIGINT, text STRING",
      Seq(1L, "alpha beta gamma delta epsilon zeta"), // contains eval 3-gram
      Seq(2L, "one two three four five six"),
      Seq(3L, "unrelated words entirely here now"))
    val ev = df("id BIGINT, text STRING",
      Seq(90L, "beta gamma delta something else"))
    val out = Dedup.decontaminate(train, ev, "text", "id", n = 3, minHits = 1)
    assert(out.columns.toSeq == train.columns.toSeq)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("decontaminate minHits requires that many distinct shared grams") {
    val train = df("id BIGINT, text STRING",
      Seq(1L, "a b c d e f"), // shares grams "a b c","b c d","c d e","d e f"
      Seq(2L, "x y z a b c")) // shares only "a b c"
    val ev = df("id BIGINT, text STRING", Seq(9L, "a b c d e f"))
    val strict = Dedup.decontaminate(train, ev, "text", "id", n = 3, minHits = 2)
    assert(strict.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("decontaminate shuffle-join fallback matches the broadcast path") {
    val train = df("id BIGINT, text STRING",
      Seq(1L, "alpha beta gamma delta epsilon zeta"),
      Seq(2L, "one two three four five six"),
      Seq(3L, "unrelated words entirely here now"))
    val ev = df("id BIGINT, text STRING",
      Seq(90L, "beta gamma delta something else"))
    val bcast = Dedup.decontaminate(train, ev, "text", "id", n = 3)
      .select("id").as[Long].collect().sorted.toSeq
    val shuffled = Dedup.decontaminate(train, ev, "text", "id", n = 3,
      broadcastEval = false)
      .select("id").as[Long].collect().sorted.toSeq
    assert(bcast == shuffled)
    assert(bcast == Seq(2L, 3L))
  }

  test("decontaminate whole-doc gram for short docs") {
    val train = df("id BIGINT, text STRING", Seq(1L, "Tiny Doc"), Seq(2L, "other"))
    val ev = df("id BIGINT, text STRING", Seq(9L, "tiny  doc")) // same after normalise
    val out = Dedup.decontaminate(train, ev, "text", "id", n = 5)
    assert(out.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("dedupLines keeps first occurrence corpus-wide and reassembles") {
    val docs = df("id BIGINT, text STRING",
      Seq(1L, "shared header\nbody one\nshared footer"),
      Seq(2L, "shared header\nbody two\nshared footer"),
      Seq(3L, "shared header")) // loses every line
    val out = Dedup.dedupLines(docs, "text", "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "shared header\nbody one\nshared footer",
      2L -> "body two"))
  }

  test("dedupLines preserves intra-document line order") {
    val docs = df("id BIGINT, text STRING",
      Seq(1L, "z line\na line\nm line"))
    val out = Dedup.dedupLines(docs, "text", "id").collect()
    assert(out.head.getString(1) == "z line\na line\nm line")
  }

  test("minHashDedupAgainst drops fresh docs near a ref doc, keeps the rest") {
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different reference material about spark physical plans")
    ).toDF("id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today ok"), // near-dup of ref 1
      (11L, "entirely novel content about bloom filters and bin packing methods"),
      (12L, "")  // no grams -> can never match, must survive
    ).toDF("id", "text")
    val out = Dedup.minHashDedupAgainst(fresh, ref, "text", "id", threshold = 0.6)
      .select("id").as[Long].collect().toSet
    assert(out == Set(11L, 12L))
  }

  test("cross-path cap drops a pair whose shared buckets are all over the cap") {
    // 30 identical ref docs form hot buckets; batch doc 11 is a TRUE
    // near-duplicate of all of them. The cap applies to the reference
    // side, so the output is identical-UP-TO-CAP: doc 11's pairs are
    // present uncapped and gone at cap=5, while doc 10's pair (ordinary
    // buckets) survives every cap
    val hot = (0 until 30).map(i => (100L + i, "same hot text repeated " +
      "across the reference corpus many times over and over"))
    val ref = (hot :+ ((1L, "the quick brown fox jumps over the lazy dog " +
      "again and again today"))).toDF("id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today ok"),
      (11L, "same hot text repeated across the reference corpus many times over and over")
    ).toDF("id", "text")
    def run(cap: Int) = Dedup.minHashCrossPairs(batch, ref, "text", "id",
        threshold = 0.6, maxBucketSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(0).count(_._1 == 11L) == 30,
      "uncapped: the hot-bucket true pairs must be present")
    assert(run(1000) == run(0), "a cap above every bucket is no cap")
    assert(!run(5).exists(_._1 == 11L),
      "capped: a true pair whose only shared buckets exceed the cap is " +
        "dropped by contract")
    for (cap <- Seq(1000, 5, 0))
      assert(run(cap).contains((10L, 1L)), s"cap=$cap dropped an ordinary pair")
  }

  test("cap boundary: maxBucketSize members keep pairs, maxBucketSize + 1 do not") {
    val text = "one identical document text shared by every member here"
    def same(n: Int, from: Long) =
      (0 until n).map(i => (from + i, text)).toDF("id", "text")
    val cap = 4
    // self path: n identical docs share every bucket, each bucket has n members
    def selfPairs(n: Int) = Dedup.minHashNearDuplicates(same(n, 0L), "text", "id",
      maxBucketSize = cap).count()
    assert(selfPairs(cap) == cap.toLong * (cap - 1) / 2)
    assert(selfPairs(cap + 1) == 0L)
    // cross path: the cap counts reference members only
    val batch = same(1, 1000L)
    def crossPairs(n: Int) = Dedup.minHashCrossPairs(batch, same(n, 0L), "text", "id",
      maxBucketSize = cap).count()
    assert(crossPairs(cap) == cap.toLong)
    assert(crossPairs(cap + 1) == 0L)
  }

  test("minHashDedupAgainst never drops when ref is disjoint; schema passes through") {
    val ref = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("id", "text")
    val fresh = Seq(
      (20L, "one two three four five six seven eight"),
      (21L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"))
      .toDF("id", "text")
      .withColumn("extra", col("id") * 2)
    val out = Dedup.minHashDedupAgainst(fresh, ref, "text", "id")
    assert(out.columns.toSeq == Seq("id", "text", "extra"),
      "survivor schema must be the input schema")
    assert(out.count() == 2)
  }

  test("saveMinHashRef artifact serves identically to the online path") {
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different reference material about spark physical plans")
    ).toDF("id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today ok"),
      (11L, "entirely novel content about bloom filters and bin packing methods"),
      (12L, "")
    ).toDF("id", "text")
    val path = java.nio.file.Files.createTempDirectory("mh_ref").toString + "/a"
    Dedup.saveMinHashRef(ref, "text", "id", path)
    // text-free: the artifact carries no text column
    assert(spark.read.parquet(path).columns.toSet == Set("id", "hs", "sig"))
    val served = Dedup.minHashDedupAgainstRef(fresh, path, "text", "id",
      threshold = 0.6).select("id").as[Long].collect().toSet
    val online = Dedup.minHashDedupAgainst(fresh, ref, "text", "id",
      threshold = 0.6).select("id").as[Long].collect().toSet
    assert(served == online && served == Set(11L, 12L))
    // parameter-mismatch and schema guards are loud
    assertThrows[IllegalArgumentException](
      Dedup.minHashDedupAgainstRef(fresh, path, "text", "id", numHashes = 32))
    val bad = java.nio.file.Files.createTempDirectory("mh_bad").toString + "/b"
    ref.write.parquet(bad)
    assertThrows[IllegalArgumentException](
      Dedup.minHashDedupAgainstRef(fresh, bad, "text", "id"))
  }

  test("minHashCrossPairs emits verified batch↔ref pairs; Ref artifact serves identically") {
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different reference material about spark physical plans")
    ).toDF("id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today ok"),
      (11L, "entirely novel content about bloom filters and bin packing methods"),
      (12L, "")
    ).toDF("id", "text")
    val pairs = Dedup.minHashCrossPairs(batch, ref, "text", "id", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exactly the planted batch↔ref near-dup; jaccard is the exact
    // shingle-set value (11 shared of 12 union 3-token shingles)
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((10L, 1L)), pairs.toSeq)
    assert(math.abs(pairs.head._3 - 11.0 / 12.0) < 1e-9)
    // consistency with the dedup form: dropped ids = distinct id_a
    val dropped = Dedup.minHashDedupAgainst(batch, ref, "text", "id",
      threshold = 0.6).select("id").as[Long].collect().toSet
    assert(dropped == Set(11L, 12L))
    // artifact pair serving matches the online pairs, with loud guards
    val path = java.nio.file.Files.createTempDirectory("mh_xp").toString + "/a"
    Dedup.saveMinHashRef(ref, "text", "id", path)
    val served = Dedup.minHashCrossPairsRef(batch, path, "text", "id",
      threshold = 0.6).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(served.toSeq == Seq((10L, 1L)))
    assertThrows[IllegalArgumentException](
      Dedup.minHashCrossPairsRef(batch, path, "text", "id", numHashes = 32))
  }

  test("incremental cluster pipeline: cross+batch pairs extend the artifact to the full-graph labels") {
    // ref: {1,2} near-dups + loner 3; batch: 10 ~ 1 (merges into the
    // ref cluster), 11 ~ 12 (a brand-new batch-only cluster)
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today ok"),
      (3L, "completely different reference material about spark physical plans")
    ).toDF("id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today yes"),
      (11L, "entirely novel content about bloom filters and bin packing methods"),
      (12L, "entirely novel content about bloom filters and bin packing methods too")
    ).toDF("id", "text")
    val artifact = graft.operators.Graph.connectedComponents(
      Dedup.minHashNearDuplicates(ref, "text", "id", threshold = 0.6),
      "id_a", "id_b")
    val newEdges = Dedup.minHashCrossPairs(batch, ref, "text", "id", threshold = 0.6)
      .select("id_a", "id_b")
      .unionByName(Dedup.minHashNearDuplicates(batch, "text", "id", threshold = 0.6)
        .select("id_a", "id_b"))
    val got = graft.operators.Graph.connectedComponentsAgainst(
        artifact, newEdges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.operators.Graph.connectedComponents(
        Dedup.minHashNearDuplicates(ref.unionByName(batch), "text", "id",
          threshold = 0.6), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full, s"incremental diverged from full recompute:\n$got\n$full")
    assert(got == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 11L, 12L -> 11L))
    // the ARTIFACT-SERVED shape (one batch kernel pass, ref text never
    // rescanned) must produce the same labeling: pairs-from-ref for
    // the state, incremental-edges for the batch
    val path = java.nio.file.Files.createTempDirectory("mh_pinc").toString + "/r"
    Dedup.saveMinHashRef(ref, "text", "id", path)
    val refPairs = Dedup.minHashPairsFromRef(spark, path, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val onlinePairs = Dedup.minHashNearDuplicates(ref, "text", "id",
      threshold = 0.6).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refPairs == onlinePairs, "pairs-from-artifact must equal online pairs")
    val servedEdges = Dedup.minHashIncrementalEdges(batch, path, "text", "id",
      threshold = 0.6)
    assert(servedEdges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      newEdges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "one-pass incremental edges must equal crossPairs ∪ batch pairs")
    val servedGot = graft.operators.Graph.connectedComponentsAgainst(
        graft.operators.Graph.connectedComponents(
          Dedup.minHashPairsFromRef(spark, path, threshold = 0.6),
          "id_a", "id_b"),
        servedEdges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(servedGot == full)
    // artifact guards stay loud on the new entry points
    assertThrows[IllegalArgumentException](
      Dedup.minHashPairsFromRef(spark, path, numHashes = 32))
    assertThrows[IllegalArgumentException](
      Dedup.minHashIncrementalEdges(batch, path, "text", "id", numHashes = 32))
  }

  test("bandingFor solves the S-curve: library defaults recovered, infeasible targets loud") {
    // the S-curve itself at the library's default rung
    assert(math.abs(Dedup.lshRecallAt(0.7, 16, 4) - 0.98764) < 1e-4)
    assert(Dedup.lshRecallAt(0.85, 16, 4) > 0.9999)
    assert(Dedup.lshRecallAt(0.4, 16, 4) < 0.35) // the below-knee cut
    // the default 16x4 banding is the solver's own answer at 0.7
    assert(Dedup.bandingFor(0.7, 64) == (16, 4))
    // a stricter recall target climbs to the next rung (32x2:
    // recall(0.7, 16, 4) = 0.9876 < 0.999 <= recall(0.7, 32, 2))
    assert(Dedup.bandingFor(0.7, 64, minRecallAtThreshold = 0.999) == (32, 2))
    // every returned banding satisfies its own contract
    for (t <- Seq(0.5, 0.7, 0.8, 0.9); n <- Seq(64, 128)) {
      val (b, r) = Dedup.bandingFor(t, n)
      assert(b * r == n && Dedup.lshRecallAt(t, b, r) >= 0.95, s"t=$t n=$n -> ($b,$r)")
    }
    // infeasible: even rows=1 cannot reach the target -> loud
    assertThrows[IllegalArgumentException](
      Dedup.bandingFor(0.05, numHashes = 4, minRecallAtThreshold = 0.9999))
    assertThrows[IllegalArgumentException](Dedup.bandingFor(1.0, 64))
    assertThrows[IllegalArgumentException](Dedup.lshRecallAt(1.2, 16, 4))
  }

  test("bandingForBudget: prefix bandings, prime widths, and dominance over the divisor lattice") {
    // at the library defaults it finds the maximal-rows-minimal-bands
    // prefix banding: (11, 4) — recall 0.9512 at j=0.7 with 31% fewer
    // exchange rows than the divisor solver's (16, 4)
    assert(Dedup.bandingForBudget(0.7, 64) == (11, 4))
    assert(Dedup.lshRecallAt(0.7, 11, 4) >= 0.95)
    // steeper sub-threshold cut than the divisor answer
    assert(Dedup.lshRecallAt(0.4, 11, 4) < Dedup.lshRecallAt(0.4, 16, 4))
    // PRIME width: the divisor solver can only answer (61, 1) — the
    // shallowest curve; the budget solver bands a 44-hash prefix
    assert(Dedup.bandingFor(0.7, 61) == (61, 1))
    assert(Dedup.bandingForBudget(0.7, 61) == (11, 4))
    // every returned banding fits the budget and meets its contract
    for (t <- Seq(0.5, 0.7, 0.8, 0.9); n <- Seq(61, 64, 100)) {
      val (b, r) = Dedup.bandingForBudget(t, n)
      assert(b * r <= n && Dedup.lshRecallAt(t, b, r) >= 0.95,
        s"t=$t n=$n -> ($b,$r)")
    }
    // infeasible stays loud, same contract as the divisor solver
    assertThrows[IllegalArgumentException](
      Dedup.bandingForBudget(0.05, numHashes = 4, minRecallAtThreshold = 0.9999))
    assertThrows[IllegalArgumentException](Dedup.bandingForBudget(1.0, 64))
  }

  test("bandingFor-solved bands reproduce the hand-pinned default calls") {
    val docs = df("id BIGINT, text STRING",
      Seq(1L, "the quick brown fox jumps over the lazy dog again and again"),
      Seq(2L, "the quick brown fox jumps over the lazy dog again and again!"),
      Seq(3L, "completely different content about distributed query engines"),
      Seq(4L, "the quick brown fox jumps over the lazy dog once more today"))
    // the solver recovers 16x4 at the MinHash defaults, so a call with
    // solved bands is the default call
    val (bands, _) = Dedup.bandingFor(0.7, 64)
    assertDfEqual(
      Dedup.minHashNearDuplicates(docs, "text", "id", bands = bands),
      Dedup.minHashNearDuplicates(docs, "text", "id"))
    // a stricter recall target routes to a different rung (32x2) and
    // still meets the semantics contract (near-dup pair 1-2 found)
    val (strictBands, _) = Dedup.bandingFor(0.7, 64, minRecallAtThreshold = 0.999)
    assert(strictBands == 32)
    val strict = Dedup.minHashNearDuplicates(docs, "text", "id", bands = strictBands)
    assert(strict.collect().exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    // the ngram family's hand-tuned 12x6 is ALSO the solver's answer
    // at its own defaults
    val (ngramBands, _) = Dedup.bandingFor(0.8, 72)
    assert(ngramBands == 12)
    assertDfEqual(
      Dedup.ngramJaccardNearDuplicates(docs, "text", "id", bands = ngramBands),
      Dedup.ngramJaccardNearDuplicates(docs, "text", "id"))
  }

  test("contaminationReport names the leaking pairs with shared-gram counts") {
    val train = df("id BIGINT, text STRING",
      Seq(1L, "a b c d e f"),   // shares 4 distinct 3-grams with eval 9
      Seq(2L, "x y z a b c"),   // shares only "a b c" with eval 9
      Seq(3L, "totally clean words here"))
    val ev = df("id BIGINT, text STRING",
      Seq(9L, "a b c d e f"),
      Seq(8L, "x y z nothing shared"))   // shares "x y z" with train 2
    val out = Dedup.contaminationReport(train, ev, "text", "id", n = 3, minHits = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 9L) -> 4L, (2L, 9L) -> 1L, (2L, 8L) -> 1L))
    // minHits prunes weak pairs; agreement with decontaminate at doc grain
    val strict = Dedup.contaminationReport(train, ev, "text", "id", n = 3, minHits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((1L, 9L)))
    val cleanedIds = Dedup.decontaminate(train, ev, "text", "id", n = 3)
      .select("id").as[Long].collect().toSet
    val flaggedIds = out.keySet.map(_._1)
    assert(cleanedIds == Set(1L, 2L, 3L) -- flaggedIds)
    // shuffle path matches broadcast path
    val shuffled = Dedup.contaminationReport(train, ev, "text", "id", n = 3,
      broadcastEval = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(shuffled == out)
  }

  test("pairQuality: hand-computed precision/recall, canonicalisation, vacuous empties") {
    // docs 1-2 near-identical (jaccard ~1), 3 unrelated, 4 near-dup of 1
    val docs = df("id BIGINT, text STRING",
      Seq(1L, "the quick brown fox jumps over the lazy dog"),
      Seq(2L, "the quick brown fox jumps over the lazy dog"),
      Seq(3L, "completely different content lives here instead"),
      Seq(4L, "the quick brown fox jumps over the lazy cat"))
    // truth at 0.8 with char-3-grams: {1-2, 1-4, 2-4}; candidates below
    // deliberately: one true pair (2,1 reversed + dup), one false (1,3),
    // one self (3,3), one outside the universe (1, 99)
    val cand = df("id_a BIGINT, id_b BIGINT",
      Seq(2L, 1L), Seq(1L, 2L), Seq(1L, 3L), Seq(3L, 3L), Seq(1L, 99L))
    val r = Dedup.pairQuality(docs, cand, "text", "id", n = 3, threshold = 0.8).head()
    assert(r.getLong(0) == 2L)   // canonical candidates: {1-2, 1-3}
    assert(r.getLong(1) == 3L)   // truth pairs
    assert(r.getLong(2) == 1L)   // hits
    assert(r.getDouble(3) == 0.5)
    assert(r.getDouble(4) == 0.333333)
    // vacuous sides
    val none = df("id_a BIGINT, id_b BIGINT")
    val r2 = Dedup.pairQuality(docs, none, "text", "id", n = 3, threshold = 0.8).head()
    assert(r2.getLong(0) == 0L && r2.getDouble(3) == 1.0 && r2.getDouble(4) == 0.0)
  }

  test("pairQuality enforces the quadratic-truth sample bound (maxDocs)") {
    val docs = (1L to 10L).map(i => (i, s"doc number $i words")).toDF("id", "text")
    val cand = df("id_a BIGINT, id_b BIGINT")
    val e = intercept[IllegalArgumentException](
      Dedup.pairQuality(docs, cand, "text", "id", maxDocs = 5))
    assert(e.getMessage.contains("quadratic") && e.getMessage.contains("sample"))
    // at or under the bound it runs; raising the bound explicitly also runs
    assert(Dedup.pairQuality(docs, cand, "text", "id", maxDocs = 10).count() == 1)
  }

  test("leakageSafeSplit: cluster members share a split, chains included") {
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("id", "text")
    // chain 1-2-5 (transitive), pair 7-8, everything else singleton
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Dedup.leakageSafeSplit(docs, "id", pairs,
      Seq("train" -> 0.5, "test" -> 0.5), salt = "s9")
    assert(out.count() == 200, "every row must be labeled")
    val byId = out.select("id", "split").as[(Long, String)].collect().toMap
    assert(Set(byId(1L), byId(2L), byId(5L)).size == 1, "chain must share a split")
    assert(byId(7L) == byId(8L))
    // split key is the cluster representative: singleton rows match a
    // plain deterministicSplit under the same salt
    val plain = graft.core.Sampling.deterministicSplit(
      docs.filter($"id" > 10), "id", Seq(("train", 0.5), ("test", 0.5)), "s9")
      .select("id", "split").as[(Long, String)].collect().toMap
    plain.foreach { case (id, sp) => assert(byId(id) == sp) }
    // partitioning-stable
    val again = Dedup.leakageSafeSplit(docs.repartition(13), "id",
      pairs.repartition(3), Seq("train" -> 0.5, "test" -> 0.5), salt = "s9")
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(again == byId)
  }

  test("clusterSizeProfile: chain merges into one cluster, histogram exact") {
    // chain 1-2-5 (size 3), pair 7-8 (size 2), pair 9-10 (size 2)
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 8L), (9L, 10L)).toDF("id_a", "id_b")
    val out = Dedup.clusterSizeProfile(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((3L, 1L, 3L), (2L, 2L, 4L)))
  }

  private def semVecs = Seq(
    (1L, Array(1.0, 0.0, 0.0)),
    (2L, Array(0.9, 0.1, 0.0)),   // cos with e1 = 0.9938
    (3L, Array(0.0, 1.0, 0.0)),
    (4L, Array(0.0, 0.0, 1.0))).toDF("id", "v")

  test("decontaminateSemantic drops rows over the cosine bar, keeps the rest") {
    val evalDf = Seq((100L, Array(1.0, 0.0, 0.0))).toDF("eid", "ev")
    val kept = Dedup.decontaminateSemantic(semVecs, evalDf, "v",
      threshold = 0.995, evalEmbCol = "ev")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L)) // id 1 exact hit; id 2 at 0.9938 < 0.995
    val kept2 = Dedup.decontaminateSemantic(semVecs, evalDf, "v",
      threshold = 0.99, evalEmbCol = "ev")
      .select("id").as[Long].collect().toSet
    assert(kept2 == Set(3L, 4L))   // at 0.99 the 0.9938 pair drops id 2 too
    // empty eval keeps everything; schema passes through
    val none = Dedup.decontaminateSemantic(semVecs, evalDf.limit(0), "v",
      threshold = 0.9, evalEmbCol = "ev")
    assert(none.columns.toSeq == Seq("id", "v") && none.count() == 4)
  }

  test("decontaminateSemantic plans a broadcast nested-loop anti join") {
    val evalDf = Seq((100L, Array(1.0, 0.0, 0.0))).toDF("eid", "ev")
    val plan = Dedup.decontaminateSemantic(semVecs, evalDf, "v",
      threshold = 0.95, evalEmbCol = "ev")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("semanticContaminationReport lists pairs with similarities") {
    val evalDf = Seq(
      (100L, Array(1.0, 0.0, 0.0)),
      (200L, Array(0.0, 1.0, 0.0))).toDF("eid", "ev")
    val out = Dedup.semanticContaminationReport(semVecs, evalDf, "v", "id",
      "eid", threshold = 0.995, evalEmbCol = "ev")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6)).toSet
    assert(out == Set((1L, 100L, 1.0), (3L, 200L, 1.0)))
    // lower bar admits the 0.9938 pair
    val out2 = Dedup.semanticContaminationReport(semVecs, evalDf, "v", "id",
      "eid", threshold = 0.9, evalEmbCol = "ev")
      .select("id", "eval_id").as[(Long, Long)].collect().toSet
    assert(out2 == Set((1L, 100L), (2L, 100L), (3L, 200L)))
  }
}
