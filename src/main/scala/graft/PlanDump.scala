package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Round-artifact plan dumper: writes the FULL `explain("formatted")`
  * output of named declared queries to `plans/<tag>/<query>_<suffix>.txt`
  * under the working directory (run it from the checkout root), so
  * before/after plan claims in OPTIMIZATION_r*.md are checkable without
  * running Spark.
  *
  * Usage: `sbt "runMain graft.PlanDump r19 before q_a,q_b [sfDir]"`.
  * The session mirrors graft.Bench's (same shuffle partitions rule,
  * same conf) so the dumped plan is the planned shape the bench runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <tag> <suffix> <q1,q2,...> [sfDir]")
    val (tag, suffix, names) = (args(0), args(1), args(2).split(',').toSeq)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "target/plandump_warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), formatted)
      println(s"wrote plans/$tag/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
