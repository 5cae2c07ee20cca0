package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The spot bench's staged corpus, as the declared queries read it. */
class SpotBenchSpec extends SparkTestBase {

  test("the augmented staged spot corpus holds no doc_id twice") {
    val src = java.nio.file.Files.createTempDirectory("graft_spot_src").toString
    spark.range(80).select(col("id").cast("int").as("doc_id"),
        concat_ws(" ", lit("alpha beta gamma"), col("id").cast("string")).as("text"))
      .write.parquet(s"$src/documents.parquet")
    // what a declared near-dup query reads from a staged directory
    def augmented(staged: DataFrame): DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory("graft_spot_stage").toString
      staged.write.parquet(s"$dir/documents.parquet")
      SparkEntry.augmentedDocs(spark, dir)
    }
    val fixed = augmented(SpotBench.stagedDocs(spark, src, 3))
    SpotBench.requireUniqueIds(fixed, "the staged corpus")
    // three replicas of 80 documents, each with its 50 planted copies
    assert(fixed.count() == 3 * (80 + 50))
    val e = intercept[IllegalStateException](SpotBench.requireUniqueIds(
      augmented(SpotBench.scaledDocs(spark, src, 3)), "scaledDocs staged whole"))
    assert(e.getMessage.contains("repeats doc_id 10000"), e.getMessage)
  }
}
