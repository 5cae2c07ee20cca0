package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge

import graft.SparkTestBase

/** The one materialisation fence: exact per-partition rows and stats
  * from its own job, no origin constraints, the input's partitioning
  * kept, and a job labelled with its name. */
class FenceSpec extends SparkTestBase {
  import spark.implicits._

  private def input: DataFrame =
    spark.range(0, 1000, 1, 5).filter(col("id") % 7 =!= 0)
      .select(col("id"), concat(lit("v"), col("id").cast("string")).as("s"))

  test("per-partition rows equal a mapPartitions count of the fenced frame") {
    val f = Fence(input, "spec")
    val counted = f.df.rdd.mapPartitions(rows => Iterator(rows.size.toLong)).collect()
    assert(f.partitionRows.toSeq == counted.toSeq)
    assert(f.rows == 1000 - 143 && f.partitionRows.length == 5)
  }

  test("stats carry the exact row count and the summed UnsafeRow bytes") {
    val f = Fence(input, "spec")
    val stats = f.df.queryExecution.optimizedPlan.stats
    val bytes = input.queryExecution.toRdd
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum().toLong
    assert(stats.rowCount.contains(BigInt(f.rows)))
    assert(stats.sizeInBytes == BigInt(bytes))
  }

  test("a filter implied by a union branch is not inferred above the fence") {
    val union = spark.range(20).filter(col("id") < 3)
      .union(spark.range(20).filter(col("id") > 17)).toDF("x")
    val other = spark.range(20).toDF("x")
    // the union's constraint (x < 3 OR x > 17) would be pushed into the
    // other join side as an inferred filter
    def inferred(fenced: DataFrame): Boolean =
      fenced.join(other, "x").queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.sql
      }.exists(c => c.contains("OR"))
    assert(inferred(union.localCheckpoint(true)),
      "Spark's own localCheckpoint keeps the union's constraint")
    assert(!inferred(Fence(union, "spec").df))
  }

  test("a join on the fence's partitioning key adds no exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val f = Fence(input.repartition(4, col("id")), "spec").df
      val joined = f.join(f.select(col("id"), col("s").as("t")), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"join re-shuffled the fence:\n$plan")
      assert(joined.count() == 1000 - 143)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("the fence's job carries its graft.fence description; the caller's is restored") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(ev.properties.getProperty("spark.job.description")))
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      Fence(Seq(1, 2, 3).toDF("v"), "spec.label")
      ListenerBridge.drain(sc)
      assert(seen.contains("graft.fence:spec.label"), s"job descriptions: $seen")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
