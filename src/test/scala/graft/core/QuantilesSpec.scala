package graft.core

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class QuantilesSpec extends SparkTestBase {
  import spark.implicits._

  /** Every semantic test runs under BOTH adaptive routes: the default
    * broadcast budget (these fixtures all fit it → aggregate path) and
    * a budget of −1 (rank path). The router must be invisible to
    * results. */
  private def bothPaths(body: String => Unit): Unit = {
    body("aggregate path (default budget)")
    withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1")(
      body("rank path (budget -1)"))
  }

  test("exactQuantiles: type-1 values on known data, endpoints included") {
    val df = (1 to 100).map(_.toDouble).toDF("v").repartition(7)
    bothPaths { path =>
      val got = Quantiles.exactQuantiles(df, "v", Seq(0.0, 0.25, 0.5, 0.9, 1.0))
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      // rank floor(q * 99): 0 -> 1.0, 24 -> 25.0, 49 -> 50.0, 89 -> 90.0, 99 -> 100.0
      assert(got == Map(0.0 -> 1.0, 0.25 -> 25.0, 0.5 -> 50.0,
        0.9 -> 90.0, 1.0 -> 100.0), path)
    }
  }

  test("exactQuantiles matches a local sort reference on random data with ties") {
    val rnd = new scala.util.Random(17)
    val vals = Array.fill(5000)((rnd.nextInt(300) - 150).toDouble / 7.0)
    val df = vals.toSeq.toDF("v").repartition(13)
    val sorted = vals.sorted
    val qs = Seq(0.01, 0.1, 0.33, 0.5, 0.77, 0.99)
    bothPaths { path =>
      val got = Quantiles.exactQuantiles(df, "v", qs)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      qs.foreach { q =>
        val want = sorted(math.floor(q * (vals.length - 1)).toInt)
        assert(got(q) == want, s"$path: q=$q got ${got(q)} want $want")
      }
    }
  }

  test("exactQuantiles: nulls excluded, empty input yields empty") {
    val df = Seq(Some(3.0), None, Some(1.0), Some(2.0), None).toDF("v")
    bothPaths { path =>
      val got = Quantiles.exactQuantiles(df, "v", Seq(0.5))
        .collect().map(r => r.getDouble(1)).toSeq
      assert(got == Seq(2.0), path)
      val empty = Quantiles.exactQuantiles(
        Seq.empty[Option[Double]].toDF("v"), "v", Seq(0.5))
      assert(empty.count() == 0, path)
    }
  }

  test("exactQuantilesPerGroup matches per-group sorted references") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 3000).map(_ => (s"g${rnd.nextInt(4)}",
      (rnd.nextInt(500) - 250).toDouble / 3.0))
    val df = rows.toDF("g", "v").repartition(11)
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    bothPaths { path =>
      val got = Quantiles.exactQuantiles(df, "v", Seq(0.1, 0.5, 0.9), Seq("g"))
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      for (g <- byG.keys; q <- Seq(0.1, 0.5, 0.9)) {
        val s = byG(g)
        val want = s(math.floor(q * (s.length - 1)).toInt)
        assert(got((g, q)) == want, s"$path: ($g,$q): got ${got((g, q))} want $want")
      }
    }
  }

  test("exactQuantilesPerGroup: null group keys form a group on both paths") {
    val df = Seq((Some("a"), 1.0), (Some("a"), 3.0), (None, 10.0), (None, 30.0))
      .toDF("g", "v")
    bothPaths { path =>
      val got = Quantiles.exactQuantiles(df, "v", Seq(0.5), Seq("g"))
        .collect().map(r => Option(r.getString(0)) -> r.getDouble(2)).toMap
      assert(got == Map(Some("a") -> 1.0, None -> 10.0), s"$path: $got")
    }
  }

  test("quantileGatePerGroup gates within each stratum, ties inclusive") {
    val df = ((1 to 100).map(i => ("a", i.toLong, i.toDouble)) ++
      (1 to 10).map(i => ("b", 100L + i, 1000.0 + i)))
      .toDF("g", "id", "score").repartition(6)
    bothPaths { path =>
      val kept = Quantiles.quantileGate(df, "score", 0.9, Seq("g"))
        .select("g", "id").as[(String, Long)].collect().toSet
      // group a: threshold = value at rank 89 = 90 -> ids 90..100
      // group b: threshold = value at rank floor(0.9*9)=8 -> 1009 -> ids 109,110
      assert(kept == ((90L to 100L).map("a" -> _) ++
        Seq("b" -> 109L, "b" -> 110L)).toSet, path)
    }
  }

  test("quantileGate keeps exactly the at-or-above-threshold rows") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
      .repartition(5)
    bothPaths { path =>
      val kept = Quantiles.quantileGate(df, "score", 0.9)
        .select("id").as[Long].collect().toSet
      // threshold = value at rank 89 = 90.0; kept = ids 90..100
      assert(kept == (90L to 100L).toSet, path)
      // ties at the threshold all pass
      val tied = Seq(1.0, 2.0, 2.0, 2.0, 3.0).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("id", "score")
      val keptTied = Quantiles.quantileGate(tied, "score", 0.5)
        .select("id").as[Long].collect().toSet
      // rank floor(0.5*4)=2 -> value 2.0; every 2.0 and the 3.0 pass
      assert(keptTied == Set(1L, 2L, 3L, 4L), path)
    }
  }

  test("interpolated quantiles match the percentile aggregate exactly") {
    val df = (1 to 101).map(i => ("g" + (i % 2), i.toDouble)).toDF("g", "v")
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val expect = df.groupBy("g")
      .agg(percentile($"v", array(qs.map(lit): _*)).as("e"))
      .select($"g", posexplode($"e"))
      .collect().map(r => (r.getString(0), qs(r.getInt(1))) -> r.getDouble(2)).toMap
    bothPaths { path =>
      val got = Quantiles.exactInterpolatedQuantiles(df, "v", qs, Seq("g"))
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      assert(got == expect,
        s"$path: interpolation must replicate percentile bit-for-bit\n$got\n$expect")
    }
    // duplicate quantiles fail loudly instead of silently merging
    assertThrows[IllegalArgumentException](
      Quantiles.exactInterpolatedQuantiles(df, "v", Seq(0.5, 0.5), Seq("g")))
    assertThrows[IllegalArgumentException](
      Quantiles.exactInterpolatedQuantiles(df, "v", Seq(0.5, 0.5)))
  }

  test("interpolation matches the percentile aggregate on adversarial doubles") {
    // non-exactly-representable values where the two-sided weighted
    // form (⌈h⌉−h)·lo + (h−⌊h⌋)·hi and the one-sided lerp
    // lo + (h−⌊h⌉)·(hi−lo) differ sub-ulp — the library owns Spark's
    // aggregate convention, bit-for-bit (checked as raw Double bits)
    // duplicates included deliberately: h can land BETWEEN two equal
    // values (v_lo == v_hi), where both interpolation forms must
    // return the value itself — and between a duplicate pair and a
    // distinct neighbour, the boundary case the rank join must not
    // double-count
    // NaN and the infinities ride along: Spark orders NaN GREATEST
    // (both the Percentile counts map and the range exchange use the
    // same double ordering), infinities interpolate to themselves or
    // NaN identically on both routes; doubleToLongBits canonicalizes
    // NaN payloads so the bit compare is well-defined
    val vals = Seq(0.1, 0.1, 0.2, 0.30000000000000004, 1e-300, 1e300,
      -0.7, 2.675, 2.675, 1.0 / 3.0, math.Pi, -math.E, 1e16 + 1, 0.1 + 0.7,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val df = vals.map(Tuple1(_)).toDF("v").repartition(4)
    val qs = Seq(0.01, 0.13, 1.0 / 3.0, 0.5, 0.66, 0.875, 0.99)
    val expect = df.agg(percentile($"v", array(qs.map(lit): _*)).as("e"))
      .select(posexplode($"e"))
      .collect().map(r => qs(r.getInt(0)) -> r.getDouble(1)).toMap
    bothPaths { path =>
      val got = Quantiles.exactInterpolatedQuantiles(df, "v", qs)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      qs.foreach { q =>
        assert(java.lang.Double.doubleToLongBits(got(q)) ==
          java.lang.Double.doubleToLongBits(expect(q)),
          s"$path: q=$q: got ${got(q)} (bits ${java.lang.Double.doubleToLongBits(got(q))}), " +
            s"aggregate ${expect(q)} (bits ${java.lang.Double.doubleToLongBits(expect(q))})")
      }
    }
  }

  test("adaptive router: small inputs take the aggregate plan, pinned-0 takes ranks") {
    val df = (1 to 50).map(_.toDouble).toDF("v")
    // default budget: 50 rows fit it → the Percentile aggregate is IN
    // the plan and the range-exchange machinery is not
    val small = Quantiles.exactInterpolatedQuantiles(df, "v", Seq(0.5))
    assert(small.queryExecution.analyzed.toString.contains("percentile"),
      "small regime must route through the Percentile aggregate")
    // budget -1: the aggregate must NOT appear (rank machinery only)
    withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val ranked = Quantiles.exactInterpolatedQuantiles(df, "v", Seq(0.5))
      assert(!ranked.queryExecution.analyzed.toString.contains("percentile("),
        "budget -1 must route through the rank machinery")
    }
  }
}
