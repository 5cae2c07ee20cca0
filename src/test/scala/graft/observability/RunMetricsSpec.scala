package graft.observability

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class RunMetricsSpec extends SparkTestBase {

  test("a shuffling aggregate reports exchange bytes; a narrow filter reports none") {
    val dir = java.nio.file.Files.createTempDirectory("graft_runmetrics").toString
    spark.range(20000).select((col("id") % 97).as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)

    val wide = RunMetricsProbe.measure(base.groupBy("k").agg(sum("v")))
    assert(wide.rows == 97)
    assert(wide.shuffleWriteBytes > 0,
      s"groupBy must report exchange bytes: $wide")
    assert(wide.stages >= 2, s"shuffled agg runs >= 2 stages: $wide")
    assert(wide.inputBytes > 0, s"parquet scan must report input bytes: $wide")

    val narrow = RunMetricsProbe.measure(base.filter(col("v") % 2 === 0))
    assert(narrow.rows == 10000)
    // count()'s own partial-count reduce is the probe's noise floor
    // (~50 B/task); a genuinely shuffling plan reads orders above it
    assert(narrow.shuffleWriteBytes < 2048,
      s"a filter must not shuffle beyond count's own reduce: $narrow")
    assert(wide.shuffleWriteBytes > narrow.shuffleWriteBytes * 5,
      s"agg exchange must dominate the noise floor: $wide vs $narrow")
  }

  test("counters reset per measurement (listener detached between runs)") {
    val d = spark.range(5000).select((col("id") % 11).as("k"))
    val first = RunMetricsProbe.measure(d.groupBy("k").count())
    val second = RunMetricsProbe.measure(d.groupBy("k").count())
    // same job measured twice: byte counts within 2x of each other
    // (not accumulated across runs)
    assert(second.shuffleWriteBytes < first.shuffleWriteBytes * 2 + 1,
      s"counters leaked across measurements: $first vs $second")
  }

  test("jobs counts every job started; measureEager runs Unit bodies") {
    val rdd = spark.sparkContext.parallelize(1 to 100, 2)
    val m = RunMetricsProbe.measureEager(spark) { rdd.count(); rdd.count() }
    assert(m.jobs == 2 && m.rows == 0L, s"two RDD actions = two jobs: $m")
    assert(RunMetricsProbe.measureEager(spark)(()).jobs == 0)
  }

  test("a 20-job body reports exactly 20 jobs and the same stages on every run") {
    val sc = spark.sparkContext
    val runs = (1 to 10).map { _ =>
      RunMetricsProbe.measureEager(spark) {
        val rdd = sc.parallelize(1 to 1000, 4)
        (1 to 19).foreach(_ => rdd.count())
        // one job, two stages: the map side and the reduce side
        rdd.map(i => (i % 7, 1L)).reduceByKey(_ + _).collect()
      }
    }
    assert(runs.forall(_.jobs == 20), s"jobs per run: ${runs.map(_.jobs)}")
    assert(runs.forall(_.stages == 21), s"stages per run: ${runs.map(_.stages)}")
  }
}
