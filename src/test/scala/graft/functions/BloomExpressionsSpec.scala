package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.DataFrameOps
import graft.dedup.Dedup

class BloomExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  private def bloomOf(keys: Seq[Long], fpp: Double = 0.01): Array[Byte] =
    BloomFunctions.buildBloomBytes(
      keys.toDF("k"), "k", math.max(keys.size.toLong, 1), fpp)

  test("bloomMightContain: no false negatives, fpp-bounded false positives") {
    val members = (0L until 5000L).map(_ * 3)
    val bytes = bloomOf(members)
    val probe = spark.range(0, 30000).toDF("k")
      .withColumn("hit", BloomFunctions.bloomMightContain(col("k"), bytes))
    val missed = probe.filter(col("k") % 3 === 0 && col("k") < 15000 && !col("hit"))
    assert(missed.count() == 0, "a bloom filter must never report a false negative")
    val fpCount = probe.filter(col("k") % 3 =!= 0 && col("hit")).count()
    val nonMembers = 20000.0
    assert(fpCount < nonMembers * 0.05,
      s"false-positive count $fpCount way above nominal 1% of $nonMembers")
  }

  test("bloomAnyContain matches exists(mightContain) semantics, arrays not exploded") {
    val members = Seq(100L, 200L, 300L)
    val bytes = bloomOf(members ++ (0L until 1000L).map(_ + 100000L))
    val d = Seq(
      (1L, Seq(1L, 2L, 200L)),  // one member inside
      (2L, Seq(5L, 6L, 7L)),    // none (modulo fp luck at 1%)
      (3L, Seq.empty[Long]),    // empty array → false
      (4L, Seq(100L))           // member alone
    ).toDF("id", "gs")
    val out = d.withColumn("hit", BloomFunctions.bloomAnyContain(col("gs"), bytes))
      .select("id", "hit").as[(Long, Boolean)].collect().toMap
    assert(out(1L) && out(4L), "arrays containing a member must hit")
    assert(!out(3L), "empty array must miss")
  }

  test("sortedSetCount: exact per-element membership counts, any input key order") {
    val keys = Array(50L, 10L, 30L) // unsorted on purpose
    val d = Seq(
      (1L, Seq(10L, 20L, 30L)),       // two members
      (2L, Seq(10L, 10L)),            // duplicate elements count per occurrence
      (3L, Seq(99L)),                 // none
      (4L, Seq.empty[Long])
    ).toDF("id", "gs")
    val out = d.withColumn("n", BloomFunctions.sortedSetCount(col("gs"), keys))
      .select("id", "n").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 2, 2L -> 2, 3L -> 0, 4L -> 0))
  }

  test("bloom probes type-check their input") {
    val d = Seq(("x", Seq("a", "b"))).toDF("s", "arr")
    val bytes = bloomOf(Seq(1L))
    assertThrows[org.apache.spark.sql.AnalysisException](
      d.select(BloomFunctions.bloomMightContain(col("s"), bytes)).collect())
    assertThrows[org.apache.spark.sql.AnalysisException](
      d.select(BloomFunctions.bloomAnyContain(col("arr"), bytes)).collect())
  }

  test("bloom probe survives codegen (plan executes, no fallback crash)") {
    val bytes = bloomOf((0L until 100L).toSeq)
    // enough rows that WholeStageCodegen compiles and runs the probe
    val n = spark.range(0, 10000).toDF("k")
      .filter(BloomFunctions.bloomMightContain(col("k"), bytes))
      .count()
    assert(n >= 100, s"all 100 members must pass the probe, got $n")
  }

  /** `body` under `spark.sql.autoBroadcastJoinThreshold = v`, the prior
    * setting restored. */
  private def withBroadcastBudget[T](v: String)(body: => T): T =
    withSessionConf("spark.sql.autoBroadcastJoinThreshold", v)(body)

  /** Pin the bloom route for tests of the bloom machinery itself —
    * these fixtures all fit the default broadcast budget. */
  private def forcingBloomPath[T](body: => T): T = withBroadcastBudget("-1")(body)

  test("bloomSemiJoin equals the plain semi join exactly") {
    val left = spark.range(0, 5000).toDF("k")
      .withColumn("payload", col("k") * 2)
    val right = spark.range(0, 5000).toDF("rk").filter(col("rk") % 50 === 0)
    val expected = left.join(right, left("k") === right("rk"), "left_semi")
    forcingBloomPath {
      assertDfEqual(DataFrameOps.bloomSemiJoin(left, right, "k", "rk", fpp = 0.01),
        expected)
    }
    // the adaptive router's broadcast route must agree bit-for-bit
    assertDfEqual(DataFrameOps.bloomSemiJoin(left, right, "k", "rk"), expected)
  }

  test("bloomAntiJoin equals the plain anti join exactly, nulls pass through") {
    val left = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (50L, "c"), (null, "d"), (999L, "e"))
      .toDF("k", "v")
    val right = spark.range(0, 100).toDF("rk").filter(col("rk") % 50 === 0)
    val expected = left.join(right, left("k") === right("rk"), "left_anti")
    for (actual <- Seq(
        forcingBloomPath(DataFrameOps.bloomAntiJoin(left, right, "k", "rk")),
        DataFrameOps.bloomAntiJoin(left, right, "k", "rk"))) {
      assertDfEqual(actual, expected)
      assert(actual.filter(col("v") === "d").count() == 1, "null key row must survive")
    }
  }

  test("bloomAntiJoin at fpp extremes still exact (bloom only routes, never decides)") {
    val left = spark.range(0, 2000).toDF("k")
    val right = spark.range(0, 2000).toDF("rk").filter(col("rk") % 4 === 0)
    val expected = left.join(right, left("k") === right("rk"), "left_anti")
    // fpp 0.5 → tiny filter, many false positives → exact join does the work
    val actual = forcingBloomPath(
      DataFrameOps.bloomAntiJoin(left, right, "k", "rk", fpp = 0.5))
    assertDfEqual(actual, expected)
  }

  test("bloom joins route on the ACTUAL right row count, never the expectedItems hint") {
    // ADVICE r16: expectedItems is a DISTINCT-key bloom sizing hint —
    // a right side with 2 distinct keys but many rows must NOT be
    // force-broadcast past the crossover on the strength of the hint
    val left = spark.range(0, 3000).toDF("k")
    val manyRows = spark.range(0, 200).toDF("rk")
      .select((col("rk") % 2).as("rk")) // 200 rows, 2 distinct keys
    val expected = left.join(manyRows.distinct(),
      left("k") === col("rk"), "left_semi")
    withBroadcastBudget("800") { // 100 eight-byte keys
      val viaBloom = DataFrameOps.bloomSemiJoin(left, manyRows, "k", "rk",
        expectedItems = 2) // tiny hint; 200 rows > 100 crossover → bloom
      assert(viaBloom.queryExecution.executedPlan.toString
        .contains("bloom_might_contain"),
        "row count above the crossover must take the bloom path even " +
          "with a small expectedItems hint")
      assertDfEqual(viaBloom, expected)
      // and a genuinely small right side routes to broadcast even with
      // a huge hint — the hint sizes the bloom, it never routes
      val small = spark.range(0, 50).toDF("rk")
      val viaBroadcast = DataFrameOps.bloomSemiJoin(left, small, "k", "rk",
        expectedItems = 1000001L)
      assert(!viaBroadcast.queryExecution.executedPlan.toString
        .contains("bloom_might_contain"),
        "50 rows under the crossover must take the broadcast route")
      assertDfEqual(viaBroadcast,
        left.join(small, left("k") === small("rk"), "left_semi"))
    }
  }

  test("small-right broadcast route ships only the key column") {
    // a wide payload on the right must not reach the broadcast: the
    // semi/anti join needs nothing but the key (ADVICE r16 OOM risk)
    val left = spark.range(0, 1000).toDF("k")
    val right = spark.range(0, 100).toDF("rk")
      .withColumn("wide", concat_ws("", Seq.fill(8)(col("rk").cast("string")): _*))
    for ((df, kind) <- Seq(
        DataFrameOps.bloomSemiJoin(left, right, "k", "rk") -> "semi",
        DataFrameOps.bloomAntiJoin(left, right, "k", "rk") -> "anti")) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("wide"),
        s"$kind: the broadcast side must be the key projection, not the full frame")
    }
  }

  test("bloomDecontaminate output is bit-identical to exact decontaminate") {
    val base = Seq.tabulate(60)(i =>
      (i.toLong, s"document number $i carries tokens t${i}a t${i}b t${i}c t${i}d t${i}e t${i}f"))
    val evalDf = Seq(
      (1000L, "secret benchmark passage alpha beta gamma delta epsilon zeta"),
      (1001L, "another held out sequence one two three four five six")).toDF("id", "text")
    // plant eval text into three train docs
    val train = base.map { case (id, t) =>
      if (id % 20 == 3) (id, t + " secret benchmark passage alpha beta gamma delta epsilon zeta")
      else (id, t)
    }.toDF("id", "text")
    val exact = Dedup.decontaminate(train, evalDf, "text", "id", n = 5)
      .select("id").as[Long].collect().toSet
    // ALL THREE adaptive rungs must match the exact pass: the default
    // route (tiny eval → delegate to decontaminate), the pinned
    // driver-collect bloom-prefilter rung (budget -1), and the pinned
    // fully distributed rung (+ maxDriverGrams = 1)
    def run(pin: Boolean, maxGrams: Int): Set[Long] = {
      def go = Dedup.bloomDecontaminate(train, evalDf, "text", "id",
        n = 5, maxDriverGrams = maxGrams)
        .select("id").as[Long].collect().toSet
      if (pin) withBroadcastBudget("-1")(go) else go
    }
    for ((pin, maxGrams) <- Seq((false, 4 << 20), (true, 4 << 20), (true, 1))) {
      val bloomed = run(pin, maxGrams)
      assert(bloomed == exact, s"pin=$pin maxDriverGrams=$maxGrams diverged")
      assert(!bloomed.contains(3L) && !bloomed.contains(23L) && !bloomed.contains(43L),
        "planted contaminations must be removed")
      assert(bloomed.size == 57, "clean docs must all survive")
    }
  }

  test("bloomDecontaminate at fpp 0.5 still exact (verification absorbs false positives)") {
    val train = Seq.tabulate(40)(i =>
      (i.toLong, s"clean text piece u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f")).toDF("id", "text")
    val evalDf = Seq((9000L, "totally disjoint eval words qq ww ee rr tt yy")).toDF("id", "text")
    // pin the bloom-prefilter regimes fpp matters in
    withBroadcastBudget("-1") {
      assert(Dedup.bloomDecontaminate(train, evalDf, "text", "id", n = 5, fpp = 0.5)
        .count() == 40)
      assert(Dedup.bloomDecontaminate(train, evalDf, "text", "id", n = 5, fpp = 0.5,
        maxDriverGrams = 1).count() == 40)
    }
  }

  test("bloomDecontaminate's distributed route leaves no cache entry behind") {
    val train = Seq.tabulate(40)(i =>
      (i.toLong, s"clean text piece u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f" +
        (if (i == 7) " held out passage one two three four" else ""))).toDF("id", "text")
    val evalDf = Seq((9000L, "the held out passage one two three four five")).toDF("id", "text")
    val exact = Dedup.decontaminate(train, evalDf, "text", "id", n = 5)
      .select("id").as[Long].collect().toSet
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    withBroadcastBudget("-1") {
      val out = Dedup.bloomDecontaminate(train, evalDf, "text", "id", n = 5,
        maxDriverGrams = 1).select("id").as[Long].collect().toSet
      assert(out == exact && !out.contains(7L) && out.size == 39)
      assert(cache.isEmpty, "a later query with a matching plan would read a stale cache")
    }
  }
}
