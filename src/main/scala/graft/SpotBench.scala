package graft

import java.nio.file.{Files, LinkOption, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-SF spot bench (r19 verdict task 3): the sf0.1 suite is
  * fixed-cost-bound — the driver's own 8-CPU run matches its 32-core
  * run on most queries, so per-query wall there measures job count and
  * scheduling floors, not data-path speed. This runner times a fixed
  * TOP-query subset against a corpus scaled `SPARK_GRAFT_SPOT_SCALE`×
  * (default 10× ≈ sf1) so low-core/high-core ratios rise above the
  * fixed-cost floor and round-over-round deltas on the touched
  * operators become trustworthy.
  *
  * Contract mirrors graft.Bench: data dir from `$SPARK_GRAFT_SF_DIR`,
  * core count from `$SPARK_GRAFT_CPUS` (master local[cpus]), one JSON
  * line on stdout. It does NOT replace or alter Bench — it is a
  * separate artifact producer (BENCH_r20_spot_c<cpus>.json committed
  * by hand). The scaled corpus is STAGED FRESH on every invocation
  * under `target/spotbench/` relative to the working directory
  * (alphabet-rotation replicas — [[scaledDocs]] — keep duplicate
  * density constant, so LSH/dedup work grows linearly, not
  * quadratically) and queries then run the DECLARED SparkEntry
  * entries verbatim against the staged directory: no persisted
  * intermediates survive or precede a run.
  */
object SpotBench {

  /** K textually-disjoint replicas of the documents table; ids offset
    * per replica so the near-dup structure (including the planted <50
    * block per replica) repeats K times. [[Scale]] scales by the same
    * corpus.
    *
    * Replica texts are produced by a per-replica alphabet ROTATION
    * cipher (`translate` over letters and digits): a character
    * bijection preserves both token-set and char-n-gram-set Jaccard
    * within a replica EXACTLY (every gram maps 1:1), so each replica
    * carries the source corpus's duplicate density; across replicas
    * every letter differs, so cross-replica similarity is noise. Two
    * rejected constructions, for the record: replicating verbatim
    * makes every doc a K-way duplicate (pair counts quadratic in K by
    * construction), and renaming tokens to md5 hex words collapses
    * char n-grams into a 16-character alphabet whose ~4k-gram space
    * saturates — both inflate pair counts for corpus reasons, not
    * operator reasons. */
  private[graft] def scaledDocs(s: SparkSession, dir: String, k: Int): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val aug = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" extra tail token")).as("text"))
    val base = docs.unionByName(aug)
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    def rot(s: String, r: Int): String = {
      val n = r % s.length; s.drop(n) + s.take(n)
    }
    (0 until k).map { r =>
      if (r == 0) base
      else base.select(
        (col("doc_id") + r * 10000000L).as("doc_id"),
        translate(col("text"),
          lower + upper + digits,
          rot(lower, r) + rot(upper, r) + rot(digits, r)).as("text"))
    }.reduce(_ unionByName _)
  }

  /** The staged documents table: [[scaledDocs]] without replica 0's
    * planted copies (ids 1,000,000–1,000,049). The declared near-dup
    * queries plant them again from `doc_id < 50`
    * (`SparkEntry.augmentedDocs`), so staging them too would hand those
    * queries 50 duplicated ids; the other replicas' copies stay staged,
    * as nothing re-plants them. */
  private[graft] def stagedDocs(s: SparkSession, dir: String, k: Int): DataFrame =
    scaledDocs(s, dir, k).filter(col("doc_id") < 1000000L || col("doc_id") >= 10000000L)

  /** Throws unless `doc_id` is unique in `docs`: one aggregate job. */
  private[graft] def requireUniqueIds(docs: DataFrame, what: String): Unit = {
    val dup = docs.groupBy(col("doc_id")).count().filter(col("count") > 1)
      .select(col("doc_id")).limit(5).collect().map(_.get(0))
    if (dup.nonEmpty) throw new IllegalStateException(
      s"SpotBench: $what repeats doc_id ${dup.mkString(", ")}")
  }

  /** Document-only declared queries among the suite's slowest — every
    * operator family this optimization round touched, plus the two
    * heaviest untouched document-grain queries for context. */
  private val spotQueries: Seq[String] = Seq(
    "q_minhash_dedup", "q_ngram_lsh", "q_simhash_dedup", "q_simhash128",
    "q_dedup_against", "q_substring_dedup", "q_substring_profile",
    "q_tfidf", "q_inverted_index", "q_html_extract")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val k = sys.env.getOrElse("SPARK_GRAFT_SPOT_SCALE", "10").toInt
    val only = sys.env.get("SPARK_GRAFT_SPOT_ONLY").map(_.split(',').toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "target/spot_warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ---- stage the scaled corpus (untimed; rebuilt every invocation)
    val stageDir = s"target/spotbench/x$k"
    val t0s = System.nanoTime()
    stagedDocs(spark, sfDir, k)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$stageDir/documents.parquet")
    requireUniqueIds(SparkEntry.augmentedDocs(spark, stageDir),
      "the augmented staged corpus")
    // symlink every other input so any declared query resolves; links
    // are recreated each run so a changed SPARK_GRAFT_SF_DIR never
    // leaves stale (or dangling) links beside the rebuilt documents
    val src = Paths.get(sfDir)
    val inputs = Files.list(src)
    try inputs.forEach { p =>
      val name = p.getFileName.toString
      if (name != "documents.parquet") {
        val link = Paths.get(stageDir, name)
        if (Files.exists(link, LinkOption.NOFOLLOW_LINKS) && !Files.isSymbolicLink(link))
          throw new IllegalStateException(s"SpotBench: $link exists and is not a symlink")
        Files.deleteIfExists(link)
        Files.createSymbolicLink(link, p.toAbsolutePath)
      }
    }
    finally inputs.close()
    val stageSecs = (System.nanoTime() - t0s) / 1e9

    // untimed warm-up (Bench's recipe): exercise scan/shuffle/window
    // codegen so the first measured query doesn't absorb JIT cold start
    {
      spark.read.parquet(s"$stageDir/documents.parquet")
        .groupBy(length(col("text")) % 7).count().count()
      spark.range(100000).select(sum(col("id")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("id") % 7).orderBy("id")).as("s"))
        .agg(sum("s")).collect()
      ()
    }

    def once(name: String): Double = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, stageDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    val results = spotQueries
      .filter(n => only.forall(_.contains(n)))
      .map { name =>
        val a = once(name)
        val b = once(name) // min-of-2: de-noise without tripling the wall
        val best = math.min(a, b)
        System.err.println(f"[spot] $name%-22s $best%8.2fs (runs $a%.2f/$b%.2f)")
        name -> math.rint(best * 100) / 100
      }
    val total = math.rint(results.map(_._2).sum * 100) / 100
    val qjson = results.map { case (n, s) => s""""$n":$s""" }.mkString(",")
    println(s"""{"metric":"spot_total","value":$total,"unit":"sec","queries":{$qjson},"scale":$k,"cpus":$cpus,"stage_sec":${math.rint(stageSecs * 100) / 100},"sf":"${Paths.get(sfDir).getFileName}"}""")
    spark.stop()
  }
}
