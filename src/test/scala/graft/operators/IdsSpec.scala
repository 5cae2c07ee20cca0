package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class IdsSpec extends SparkTestBase {
  import spark.implicits._

  test("assignContiguousIds matches the global row_number order") {
    val df = spark.range(1000).select((col("id") * 37 % 1000).as("k"))
      .distinct() // unique order key 0..999 in scrambled row order
    val out = Ids.assignContiguousIds(df, Seq("k"), numPartitions = Some(7))
    val pairs = out.select("k", "row_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(pairs.length == 1000)
    // k values are exactly 0..999, so row_id must equal k
    assert(pairs.forall { case (k, id) => k == id })
  }

  test("assignContiguousIds ids are contiguous and unique on real data") {
    val df = Seq("c", "a", "b", "e", "d").toDF("s")
    val out = Ids.assignContiguousIds(df, Seq("s"), numPartitions = Some(3))
      .select("s", "row_id").as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 4L))
  }

  test("naive and scalable formulations agree") {
    val df = spark.range(500).select((col("id") * 13 % 500).as("k")).distinct()
    val fast = Ids.assignContiguousIds(df, Seq("k"), numPartitions = Some(5))
    // the single-partition formulation assignContiguousIds replaces
    val naive = df.withColumn("row_id",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("k")) - 1)
    assertDfEqual(fast.select("k", "row_id"), naive.select("k", "row_id"))
  }

  test("assignGroupRanks matches the per-group window formulation") {
    val df = spark.range(1000)
      .select((col("id") % 7).as("g"), (col("id") * 131 % 1000).as("v"))
      .repartition(9)
    val fast = Ids.assignGroupRanks(df, Seq("g"), Seq("v"),
      numPartitions = Some(5))
      .select("g", "v", "group_rank").as[(Long, Long, Long)].collect().toSet
    val naive = df.withColumn("group_rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("v")) - 1)
      .select("g", "v", "group_rank").as[(Long, Long, Long)].collect().toSet
    assert(fast == naive)
  }

  test("assignGroupRanks: ranks contiguous per group even when a group spans partitions") {
    // one dominant group forces range partitions to split it
    val df = spark.range(2000)
      .select(when(col("id") < 1800, "big").otherwise("small").as("g"),
        (col("id") * 7 % 2000).as("v"))
    val out = Ids.assignGroupRanks(df, Seq("g"), Seq("v"),
      numPartitions = Some(8))
      .groupBy("g").agg(count(lit(1)).as("n"), min("group_rank").as("lo"),
        max("group_rank").as("hi"),
        countDistinct("group_rank").as("nd"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("big") == ((1800L, 0L, 1799L, 1800L)))
    assert(out("small") == ((200L, 0L, 199L, 200L)))
  }
}
