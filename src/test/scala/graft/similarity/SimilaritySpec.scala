package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  /** The interpreted reference formulation of [[Similarity.cosine]]:
    * each element cast to double, three sequential folds. */
  private def cosineHof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    Similarity.dot(a, b) / (Similarity.norm(a) * Similarity.norm(b))

  private def vecs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f)),
    (2L, Seq(0.9f, 0.1f, 0.0f)),   // close to 1
    (3L, Seq(0.0f, 1.0f, 0.0f)),   // orthogonal to 1
    (4L, Seq(-1.0f, 0.0f, 0.0f))   // opposite of 1
  ).toDF("vec_id", "embedding")

  test("dot, norm, cosine compute expected values") {
    val d = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(d.select(Similarity.dot($"a", $"b").as("v")).as[Double].head() == 32.0)
    assert(math.abs(d.select(Similarity.norm($"a").as("v")).as[Double].head()
      - math.sqrt(14.0)) < 1e-12)
    val cos = d.select(Similarity.cosine($"a", $"b").as("v")).as[Double].head()
    assert(math.abs(cos - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-12)
  }

  test("cosine handles float arrays (computed in double)") {
    val cos = vecs.filter($"vec_id" === 1).crossJoin(
      vecs.filter($"vec_id" === 4).select($"embedding".as("e2")))
      .select(Similarity.cosine($"embedding", $"e2").as("v")).as[Double].head()
    assert(math.abs(cos + 1.0) < 1e-6)
  }

  test("bruteForceTopK ranks by similarity, excludes self, breaks ties by corpus id") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1), "vec_id", "embedding", k = 3)
    val rows = out.orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(rows.toSeq == Seq((2L, 1), (3L, 2), (4L, 3))) // by descending cosine
    assert(!out.filter($"corpus_id" === 1).collect().nonEmpty)
  }

  test("bruteForceTopK returns at most k per query") {
    val out = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 2)
    val counts = out.groupBy("query_id").count().select("count").as[Long].collect()
    assert(counts.forall(_ <= 2))
  }

  test("bruteForceTopKScalable matches the window formulation exactly") {
    val window = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 2)
      .select("query_id", "corpus_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val agg = Similarity.bruteForceTopKScalable(vecs, vecs, "vec_id", "embedding", k = 2)
      .select("query_id", "corpus_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(agg == window)
    assert(agg.nonEmpty)
  }

  test("TopKAggregator keeps k best with deterministic tie-break") {
    val aggr = new Similarity.TopKAggregator(2)
    val items = Seq(
      Similarity.Scored(0.5, 3L), Similarity.Scored(0.9, 2L),
      Similarity.Scored(0.9, 1L), Similarity.Scored(0.1, 4L))
    val buf = items.foldLeft(aggr.zero)(aggr.reduce)
    assert(aggr.finish(buf) == Seq(Similarity.Scored(0.9, 1L), Similarity.Scored(0.9, 2L)))
    // merge respects the same bound
    val merged = aggr.merge(buf, buf)
    assert(aggr.finish(merged).size == 2)
  }

  test("native cosine equals the HOF formulation bit-for-bit") {
    val pairs = vecs.as("l").crossJoin(vecs.as("r"))
      .select($"l.embedding".as("a"), $"r.embedding".as("b"))
    val both = pairs.select(
      Similarity.cosine($"a", $"b").as("native"),
      cosineHof($"a", $"b").as("hof")).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("cosine over integral and decimal arrays equals the HOF formulation bit-for-bit") {
    val ints = Seq((Seq(3, -7, 11), Seq(5, 2, -13)), (Seq(1, 0), Seq(0, 4))).toDF("a", "b")
    val longs = Seq((Seq(Long.MaxValue, 3L, -9L), Seq(7L, Long.MinValue, 1L))).toDF("a", "b")
    val decimals = Seq((Seq(BigDecimal("0.1"), BigDecimal("2.7")),
      Seq(BigDecimal("1.3"), BigDecimal("-0.4")))).toDF("a", "b")
    for (df <- Seq(ints, longs, decimals)) {
      val rows = df.select(Similarity.cosine($"a", $"b").as("native"),
        cosineHof($"a", $"b").as("hof")).collect()
      rows.foreach(r => assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getDouble(0).equals(r.getDouble(1))), s"${df.schema}: $r"))
      assert(df.select(Similarity.cosine($"a", $"b")).queryExecution.executedPlan
        .toString.contains("cosine_sim"), "the native kernel serves the cast input")
    }
  }

  test("native hyperplane bucket equals the HOF formulation bit-for-bit") {
    val native = vecs.select(
      graft.functions.HashFunctions.hyperplaneBucketNative($"embedding", 3, 8, 5).as("b"))
      .as[Long].collect().toSeq
    val hof = vecs.select(
      HyperplaneReference.hyperplaneBucketSeededHof($"embedding", 3, 8, 5).as("b"))
      .as[Long].collect().toSeq
    assert(native == hof)
  }

  test("semanticDupClusters labels near-identical vectors together") {
    val d = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.999, 0.01, 0.0)), // ~same direction as 1
      (3L, Seq(0.0, 1.0, 0.0)),
      (4L, Seq(0.01, 0.999, 0.0)), // ~same direction as 3
      (5L, Seq(0.0, 0.0, 1.0)))    // singleton
      .toDF("id", "v")
    val exact = Similarity.semanticDupClusters(d, "id", "v", threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
    // LSH path: same labels on this tiny corpus (full-recall regime)
    val lsh = Similarity.semanticDupClusters(d, "id", "v", threshold = 0.95,
      useLsh = true, dim = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lsh == exact)
  }

  test("short/mismatched vectors match HOF null semantics (ADVICE regression)") {
    // vector shorter than dim: HOF zip_with null-poisons every plane's
    // dot → bucket 0; the native kernel must agree
    val short = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
    val nb = short.select(
      graft.functions.HashFunctions.hyperplaneBucketNative($"v", 5, 8, 5).as("b"))
      .as[Long].head()
    val hb = short.select(
      HyperplaneReference.hyperplaneBucketSeededHof($"v", 5, 8, 5).as("b"))
      .as[Long].head()
    assert(nb == 0L && nb == hb)
    // mismatched-length cosine: HOF dot null-poisons → NULL; native too
    val mism = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val rows = mism.select(
      Similarity.cosine($"a", $"b").as("native"),
      cosineHof($"a", $"b").as("hof")).head()
    assert(rows.isNullAt(0) && rows.isNullAt(1))
  }

  test("hyperplaneBucket is deterministic and within bit range") {
    val b = vecs.select(Similarity.hyperplaneBucket($"embedding", 3, 8).as("b"))
      .as[Long].collect()
    val b2 = vecs.select(Similarity.hyperplaneBucket($"embedding", 3, 8).as("b"))
      .as[Long].collect()
    assert(b.toSeq == b2.toSeq)
    assert(b.forall(x => x >= 0 && x < 256))
  }

  test("lshCosineCandidates pairs are a subset of true high-cosine pairs") {
    val out = Similarity.lshCosineCandidates(vecs, "vec_id", "embedding",
      dim = 3, numPlanes = 4, numTables = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // only (1,2) has cosine >= 0.9 in this fixture
    assert(out.forall { case (a, b, sim) => (a, b) == (1L, 2L) && sim > 0.9 })
  }

  test("truncateNormalize: unit prefixes, cosine invariance, zero/short vectors") {
    val vs = Seq(
      (1L, Array(3.0, 4.0, 100.0, -7.0)),
      (2L, Array(0.0, 0.0, 5.0, 5.0)),   // zero PREFIX at dims=2
      (3L, Array(1.0)))                   // shorter than dims
      .toDF("id", "v")
    val out = Similarity.truncateNormalize(vs, "v", dims = 2, outCol = "t")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    assert(math.abs(out(1L).map(x => x * x).sum - 1.0) < 1e-12)
    assert(math.abs(out(1L)(0) - 0.6) < 1e-12 && math.abs(out(1L)(1) - 0.8) < 1e-12)
    assert(out(2L) == Seq(0.0, 0.0), "zero prefix passes through un-divided")
    assert(out(3L) == Seq(1.0), "short vectors keep their full length")
    // cosine over renormed prefixes == cosine over raw prefixes
    val rnd = new scala.util.Random(5L)
    val many = (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian()))).toDF("id", "v")
    val tr = Similarity.truncateNormalize(many, "v", 4, "t")
    val a = Similarity.bruteForceTopK(tr.select($"id", $"t".as("v")),
        tr.filter($"id" <= 3).select($"id", $"t".as("v")), "id", "v", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val raw = many.select($"id", org.apache.spark.sql.functions.slice($"v", 1, 4).as("v"))
    val b = Similarity.bruteForceTopK(raw, raw.filter($"id" <= 3), "id", "v", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(a == b, "renormalisation must not change the cosine ranking")
    intercept[IllegalArgumentException](Similarity.truncateNormalize(vs, "v", 0))
  }

  test("hardNegativesTopK excludes near-dups above the ceiling, ranks the rest") {
    val spark2 = spark
    import spark2.implicits._
    val corpus = Seq(
      (1L, Array(1.0, 0.0, 0.0)),
      (2L, Array(0.999, 0.001, 0.0)),  // near-dup of 1: sim ~1 -> excluded
      (3L, Array(0.8, 0.6, 0.0)),      // sim 0.8 with 1 -> the hard negative
      (4L, Array(0.0, 1.0, 0.0)),      // sim 0 with 1
      (5L, Array(0.0, 0.0, 1.0))).toDF("id", "v")
    val q = corpus.filter($"id" === 1L)
    val got = Similarity.hardNegativesTopK(corpus, q, "id", "v",
      k = 2, dupCeiling = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
      .sortBy(_._3)
    assert(got == Seq((1L, 3L, 1), (1L, 4L, 2)))
    // ceiling 1.0 admits the near-dup back as the top negative
    val loose = Similarity.hardNegativesTopK(corpus, q, "id", "v",
      k = 1, dupCeiling = 1.0)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSeq
    assert(loose == Seq((2L, 1)))
    // agrees with bruteForceTopKScalable when the ceiling is vacuous
    val all = Similarity.bruteForceTopKScalable(corpus, q, "id", "v", 4)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSet
    val hard = Similarity.hardNegativesTopK(corpus, q, "id", "v", 4,
      dupCeiling = 1.0)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSet
    assert(hard == all)
  }
}
