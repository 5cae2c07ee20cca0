package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.dedup.SimHashHof

class HashExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  private def hashed = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "completely different text about distributed query engines"),
    (3L, "")
  ).toDF("id", "text")
    .withColumn("toks", graft.text.TextFunctions.tokens($"text"))
    .withColumn("th", transform($"toks", t => xxhash64(t)))

  test("native MinHash signature equals the HOF formulation bit-for-bit") {
    val both = hashed
      .withColumn("native", HashFunctions.minHashSignatureNative($"th", 16))
      .withColumn("hof", graft.dedup.MinHashHof.minHashSignatureFromHashes($"th", 16))
      .filter(size($"th") > 0)
    val rows = both.select("id", "native", "hof").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"mismatch for id ${r.getLong(0)}")
    }
  }

  test("native tokenHashes equals transform+xxhash64, preserving order and repeats") {
    val both = Seq((1L, "b a a c b"), (2L, ""), (3L, "solo"))
      .toDF("id", "text")
      .withColumn("toks", graft.text.TextFunctions.tokens($"text"))
      .withColumn("native", HashFunctions.tokenHashesNative($"toks"))
      .withColumn("hof", transform($"toks", t => xxhash64(t)))
    both.select("id", "native", "hof").collect().foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"mismatch for id ${r.getLong(0)}")
    }
  }

  test("native tokenHashes maps null elements to the xxhash64 seed like the HOF") {
    // xxhash64(null) leaves the accumulator at the seed (42L); the native
    // kernel must do the same instead of NPE-ing on a containsNull array
    val both = Seq(1L).toDF("id")
      .withColumn("toks", array(lit("a"), lit(null).cast("string"), lit("b")))
      .withColumn("native", HashFunctions.tokenHashesNative($"toks"))
      .withColumn("hof", transform($"toks", t => xxhash64(t)))
    both.select("native", "hof").collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
      assert(r.getSeq[Long](0)(1) == 42L)
    }
  }

  test("native SimHash equals the HOF formulation bit-for-bit") {
    val both = hashed
      .withColumn("native", HashFunctions.simHashNative($"th"))
      .withColumn("hof", SimHashHof.simHashFromTokenHashes($"th"))
    both.select("id", "native", "hof").collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"mismatch for id ${r.getLong(0)}")
    }
  }

  test("native expressions stay inside whole-stage codegen") {
    // a local relation would constant-fold to LocalTableScan — use a
    // range source so a real codegen stage is planned
    val plan = spark.range(100)
      .withColumn("th", array(xxhash64($"id"), xxhash64($"id" + 1)))
      .withColumn("sig", HashFunctions.minHashSignatureNative($"th", 8))
      .withColumn("sim", HashFunctions.simHashNative($"th"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    val projectLine = plan.linesIterator
      .find(_.contains("minhash_signature")).getOrElse("")
    assert(projectLine.trim.startsWith("*("),
      s"native expressions fell out of codegen:\n$plan")
  }

  test("bandBuckets: equal slices bucket together, bands are independent") {
    val sigs = Seq(
      (1L, Seq(10L, 11L, 20L, 21L)),
      (2L, Seq(10L, 11L, 99L, 98L)), // band 0 equal to id 1, band 1 differs
      (3L, Seq(10L, 11L, 10L, 11L))  // same values in both slices
    ).toDF("id", "sig")
      .select($"id", HashFunctions.bandBucketsNative($"sig", 2, 2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L)(0) == sigs(2L)(0), "equal first slices must share a bucket")
    assert(sigs(1L)(1) != sigs(2L)(1), "different second slices must differ")
    // same slice VALUES in different bands get different bucket hashes
    // (band id seeds the chain) — collisions across bands are harmless
    // but must not be systematic
    assert(sigs(3L)(0) != sigs(3L)(1))
  }

  test("type checking rejects non array<long> input") {
    val e = intercept[Exception](
      Seq("x").toDF("s").select(HashFunctions.simHashNative($"s")).collect())
    assert(e.getMessage.contains("array<bigint>"))
  }

  test("empty array: MinHash yields MaxValue sentinels, SimHash yields 0") {
    val row = Seq(Seq.empty[Long]).toDF("th")
      .select(HashFunctions.minHashSignatureNative($"th", 4).as("sig"),
        HashFunctions.simHashNative($"th").as("sim")).head()
    assert(row.getSeq[Long](0) == Seq.fill(4)(Long.MaxValue))
    assert(row.getLong(1) == 0L)
  }

  test("native windowHashes equals xxhash64 of each k-window string, position-aligned") {
    val both = Seq(
      (1L, "a b c d e"),   // 3 windows at k=3
      (2L, "a b"),         // shorter than k: empty
      (3L, "x y z"),       // exactly one window
      (4L, "a b c a b c")) // repeated windows must BOTH appear (no dedup)
      .toDF("id", "text")
      .withColumn("toks", graft.text.TextFunctions.tokens($"text"))
      .withColumn("native", HashFunctions.windowHashesNative($"toks", 3))
      .withColumn("hof", when(size($"toks") < 3, array().cast("array<bigint>"))
        .otherwise(transform(
          sequence(lit(1), size($"toks") - lit(2)),
          st => xxhash64(concat_ws(" ", slice($"toks", st, lit(3)))))))
    both.select("id", "native", "hof").collect().foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"mismatch for id ${r.getLong(0)}")
    }
    // length contract: n - k + 1, floored at 0
    val lens = both.select($"id", size($"native")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lens == Map(1L -> 3, 2L -> 0, 3L -> 1, 4L -> 4))
  }
}
