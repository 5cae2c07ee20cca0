package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Two-point scale rungs (SCALE.md evidence): each runs on the sf
  * corpus at 1× and at `SPARK_GRAFT_SCALE`× (default 8×) and prints
  * wall seconds plus output rows at each point. The scaled corpus is
  * [[SpotBench.scaledDocs]] (constant duplicate density, textually
  * disjoint replicas).
  *
  * A rung lives here only while its question is open; once SCALE.md
  * records the answer, the numbers stay there and the rung goes. The
  * one left is the substring hot-key probe: it found a single-task
  * straggler (SCALE.md "substring dedup hot-key probe"), and a fix is
  * judged by its rows.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_SCALE=8 \
  *   SPARK_GRAFT_SCALE_ONLY=substring_hotkey,substring_uniform \
  *   sbt "runMain graft.Scale"
  */
object Scale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bigK = sys.env.getOrElse("SPARK_GRAFT_SCALE", "8").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // untimed warm-up so the first measured op doesn't absorb JIT cost
    SpotBench.scaledDocs(spark, sfDir, 1).limit(2000)
      .transform(d => Dedup.minHashNearDuplicates(d, "text", "doc_id")).count()

    // SPARK_GRAFT_SCALE_ONLY=op1,op2 restricts the run to named ops —
    // the targeted-adjudication mode (mirrors Bench's SPARK_GRAFT_ONLY):
    // a suspicious row is re-measured isolated, without the in-run load
    // of earlier ops
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SCALE_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // ONE timing protocol for every artifact row (cache clear + GC,
    // one counted action, centiseconds) — protocol changes happen HERE
    // or rows stop being comparable across blocks
    def timed(name: String, tags: (String, Long)*)(mk: () => DataFrame): Unit = {
      if (only.exists(!_.contains(name))) return
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      // physical-plan execution, NOT df.count(): Catalyst short-circuits
      // count over global-aggregate shapes without running them (the
      // r14 Bench adjudication — see Bench.forceCount)
      val n = mk().queryExecution.toRdd.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val tagJson = tags.map { case (key, v) => s""","$key":$v""" }.mkString
      println(s"""{"op":"$name"$tagJson,"secs":${math.rint(secs * 100) / 100},"out_rows":$n}""")
    }

    def run(name: String, k: Int)(body: DataFrame => DataFrame): Unit = {
      val docs = SpotBench.scaledDocs(spark, sfDir, k)
        .repartition(spark.sparkContext.defaultParallelism)
      timed(name, "scale" -> k.toLong)(() => body(docs))
    }

    for (k <- Seq(1, bigK)) {
      // hot-key probe (r19 verdict task 6): a degenerate corpus where
      // ONE window key owns >50% of ALL occurrences — every occurrence
      // of a window key colocates in a single window task under the
      // r19 window-function contraction, so this is the worst case the
      // whole-partition count/min can produce. Paired with a UNIFORM
      // corpus of identical row/token/window volume (unique windows per
      // doc) so the hot/uniform wall ratio isolates the single-task
      // straggler from the volume. Both reuse the scaled doc ids only.
      // The filter on text_deduped defeats count()'s column pruning —
      // without it the string reassembly is optimised away.
      run("substring_hotkey", k) { d =>
        val hot = d.select(col("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), lit(200)),
            _ => lit("zz"))).as("text"))
        graft.dedup.SubstringDedup.dedupSubstrings(hot, "doc_id", "text", 8,
          hashKeys = true)
          .filter(length(col("text_deduped")) >= 0)
      }
      run("substring_uniform", k) { d =>
        val uni = d.select(col("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), lit(200)),
            i => concat(col("doc_id").cast("string"), lit("u"),
              i.cast("string")))).as("text"))
        graft.dedup.SubstringDedup.dedupSubstrings(uni, "doc_id", "text", 8,
          hashKeys = true)
          .filter(length(col("text_deduped")) >= 0)
      }
    }

    spark.stop()
  }
}
