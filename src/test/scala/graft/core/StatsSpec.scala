package graft.core

import graft.SparkTestBase

class StatsSpec extends SparkTestBase {
  import spark.implicits._

  test("winsorize clips to per-group percentile bounds") {
    // group a: 1..9 plus outlier 1000; p10/p90 of (1..9,1000)
    val df = ((1 to 9).map(i => ("a", i.toDouble)) :+ (("a", 1000.0)))
      .toDF("g", "v")
    val out = Stats.winsorize(df, Seq("g"), "v", lowP = 0.1, highP = 0.9)
    val wins = out.select("v_wins").as[Double].collect()
    // exact interpolating p90 of the 10 values = 9 + 0.1*(1000-9) = 108.1
    assert(wins.max == 108.1)
    assert(wins.min == 1.9) // p10 = 1 + 0.9*(2-1)
    assert(out.count() == 10)
  }

  test("zscoreOutliers flags only extreme values and survives zero variance") {
    val df = ((1 to 20).map(i => ("a", 10.0)) :+ (("a", 10000.0))).toDF("g", "v") // near-constant + spike
      .union(Seq(("b", 5.0), ("b", 5.0)).toDF("g", "v")) // zero variance
    val out = Stats.zscoreOutliers(df, Seq("g"), "v", threshold = 3.0)
    val flagged = out.filter("is_outlier").select("v").as[Double].collect()
    assert(flagged.toSeq == Seq(10000.0))
    assert(out.filter("g = 'b'").select("z").as[Double].collect().forall(_ == 0.0))
  }

  test("minMaxScale: [0,1] per group; constant group -> 0.0") {
    val df = Seq(("a", 10.0), ("a", 20.0), ("a", 30.0),
      ("b", 7.0), ("b", 7.0)).toDF("g", "v")
    val got = Stats.minMaxScale(df, Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got == Set(("a", 10.0, 0.0), ("a", 20.0, 0.5), ("a", 30.0, 1.0),
      ("b", 7.0, 0.0)))
  }

  test("robustScale: (v - median)/IQR per group; zero IQR -> 0.0") {
    // group a: 1..5 -> median 3, q1 2, q3 4, IQR 2
    val df = ((1 to 5).map(i => ("a", i.toDouble)) ++
      Seq(("b", 9.0), ("b", 9.0))).toDF("g", "v")
    val byV = Stats.robustScale(df, Seq("g"), "v")
      .filter($"g" === "a").collect()
      .map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(byV == Map(1.0 -> -1.0, 2.0 -> -0.5, 3.0 -> 0.0, 4.0 -> 0.5, 5.0 -> 1.0))
    assert(Stats.robustScale(df, Seq("g"), "v").filter($"g" === "b")
      .collect().forall(_.getDouble(2) == 0.0))
  }

  test("exact paths plan NO value-buffering percentile aggregate above the crossover") {
    // the exact Percentile aggregate buffers every group value in one
    // aggregation buffer — a billion-row group OOMs one task. Over
    // the broadcast budget (−1 here: everything is over), exact = true
    // must route through the range-exchange rank machinery. Within it
    // the aggregate is both safe and faster, and the router choosing
    // it is the intended behavior.
    val df = (1 to 100).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "v")
    withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      for (out <- Seq(
          Stats.winsorize(df, Seq("g"), "v"),
          Stats.robustScale(df, Seq("g"), "v"),
          Stats.quantileDiscretize(df, "v", 4),
          Stats.quantileDiscretize(df, "v", 4, Seq("g")),
          Stats.imputeNulls(df, Seq("g"), "v", "median"),
          Stats.imputeNulls(df, Nil, "v", "median"))) {
        val plan = out.queryExecution.optimizedPlan.toString
        assert(!plan.contains("percentile("),
          s"exact path plans a value-buffering percentile aggregate:\n$plan")
      }
    }
    // within the budget the router picks the aggregate (the fast
    // small-regime plan) — pin that too so the routing stays live
    val small = Stats.winsorize(df, Seq("g"), "v")
    assert(small.queryExecution.optimizedPlan.toString.contains("percentile("),
      "small regime must route through the Percentile aggregate")
  }

  test("groupCols = Nil computes against GLOBAL bounds for the whole family") {
    val df = Seq(10.0, 20.0, 30.0, 40.0, 50.0).map(Tuple1(_)).toDF("v")
    val mm = Stats.minMaxScale(df, Nil, "v")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(mm == Map(10.0 -> 0.0, 20.0 -> 0.25, 30.0 -> 0.5, 40.0 -> 0.75, 50.0 -> 1.0))
    val wins = Stats.winsorize(df, Nil, "v", lowP = 0.25, highP = 0.75)
      .select("v_wins").as[Double].collect().toSet
    assert(wins == Set(20.0, 30.0, 40.0)) // global q1=20, q3=40
    val rs = Stats.robustScale(df, Nil, "v")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(rs == Map(10.0 -> -1.0, 20.0 -> -0.5, 30.0 -> 0.0, 40.0 -> 0.5, 50.0 -> 1.0))
    // global mean 30, sample sd ~15.81: |z| of 10 and 50 is ~1.265
    val z = Stats.zscoreOutliers(df, Nil, "v", threshold = 1.2)
      .filter("is_outlier").select("v").as[Double].collect().toSet
    assert(z == Set(10.0, 50.0))
    // all-null input: global bounds frame is empty -> null outputs, no drop
    val nulls = Seq[Option[Double]](None, None).toDF("v")
    assert(Stats.winsorize(nulls, Nil, "v").count() == 2)
    assert(Stats.winsorize(nulls, Nil, "v")
      .filter($"v_wins".isNull).count() == 2)
  }

  test("null group keys form a group and are never dropped") {
    val df = Seq((Option("a"), 10.0), (Option("a"), 20.0),
      (Option.empty[String], 1.0), (Option.empty[String], 3.0))
      .toDF("g", "v")
    for (out <- Seq(
        Stats.winsorize(df, Seq("g"), "v", lowP = 0.0, highP = 1.0),
        Stats.minMaxScale(df, Seq("g"), "v"),
        Stats.robustScale(df, Seq("g"), "v"))) {
      assert(out.count() == 4, "null-group rows must survive the join back")
    }
    val mm = Stats.minMaxScale(df, Seq("g"), "v")
      .filter($"g".isNull).collect()
      .map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(mm == Map(1.0 -> 0.0, 3.0 -> 1.0),
      "null group must scale against its OWN bounds")
  }
}
