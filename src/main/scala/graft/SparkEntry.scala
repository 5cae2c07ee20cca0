package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DataFrameOps, Dsir, Quantiles, Sampling, Windows}
import graft.checks.Checks
import graft.methods.Averaging
import graft.dedup.Dedup
import graft.similarity.{Quantize, Similarity}
import graft.text.{Conversations, TextFunctions, UrlFunctions}
import graft.multimodal.Multimodal
import graft.streaming.Streaming
import graft.io.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY.md §2 (or an
  * LLM-pipeline extension) against the driver's parquet tables; the
  * matching `oracleSql` entry is the ANSI/DuckDB-SQL ground truth on the
  * same tables. Column names AND types are aligned on both sides
  * (integer keys cast to BIGINT, cross-engine-float aggregates rounded
  * to 6 dp) because the driver hash-compares values column-by-column.
  * Operators whose results depend on engine-internal hashes (xxhash64
  * LSH variants) have no SQL oracle and get the driver's rows-only
  * check; their exactness is covered by all-pairs oracle variants and
  * the ScalaTest suites.
  *
  * OUTPUT-SHAPE CONVENTION (r14, after the q_keyword_tag harness
  * crash): every top-level result column MUST be a scalar — BIGINT /
  * DOUBLE / BOOLEAN / VARCHAR / DATE / TIMESTAMP. The driver's oracle
  * comparator canonicalises frames with pandas `sort_values`, which
  * dies on the numpy arrays DuckDB returns for LIST and cannot order
  * STRUCT/MAP. Queries over array-valued operators therefore either
  * EXPLODE to rows or reduce the array to a canonical scalar
  * (`array_join(array_sort(...), '|')` / element aggregates) before
  * returning, with the DuckDB oracle mirrored
  * (`array_to_string(list_sort(...), '|')`). Arity-checked by
  * VerifySpec's flat-schema test over every `queries` entry.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scratch dir for queries that exercise write paths. */
  private val scratch = "/root/repo/target/verify_tmp"

  /** Synthetic web-corpus frame for the URL/domain family: one URL per
    * doc over a 12-host pool (plain, multi-part-suffix, bare-label and
    * IP hosts; slot 7 is the blocklist fixture, slots 3/11 share a
    * registrable domain). Deterministic in doc_id so the oracles pin
    * expected values via parallel constant lists. */
  private def urlDocs(s: SparkSession, d: String): DataFrame = {
    val hosts = Seq(
      "news.example.com", "blog.sample.org", "shop.acme.co.uk",
      "data.mirror.net", "example.com.au", "weird.deep.site.co.jp",
      "cdn.images.io", "www.blocked.com", "localhost", "192.168.10.1",
      "docs.example.ac.uk", "big.mirror.net")
    t(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .withColumn("url", concat(
        when(col("doc_id") % 5 === 0, "http").otherwise("https"),
        lit("://"),
        element_at(array(hosts.map(lit): _*), (col("doc_id") % 12).cast("int") + 1),
        lit("/p/"), col("doc_id")))
  }

  /** Synthetic web-page frame for the HTML-extraction family: each
    * document's text wrapped in a deterministic page skeleton with a
    * title (entity-bearing), style/script/comment blocks, a two-link
    * nav list, and the text as the single prose paragraph — every
    * stripping path exercised, and the oracle can replay the same
    * regex chain over the identically-constructed string. */
  private def htmlDocs(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id").cast("string")
    t(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .withColumn("html", concat(
        lit("<html><head><title>Doc &amp; "), id,
        lit("</title><style>p { color: red }</style>"),
        lit("<script>var x = \"<p>hi</p>\";</script></head><body>"),
        lit("<!-- nav --><h1>Header "), id, lit("</h1><ul>"),
        lit("<li><a href=\"/home\">Home</a></li>"),
        lit("<li><a href=\"/p/"), id, lit("\">Next page "), id,
        lit("</a></li></ul><p>"), col("text"), lit(" end.</p></body></html>")))
  }

  /** Synthetic model-battle frame for the preference-ranking family:
    * five models, pairings and outcomes keyed off o_orderkey so both
    * engines derive the identical battle log (ties included). */
  private def btBattles(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey").cast("long")
    t(s, d, "orders")
      .filter(k % 5 =!= (k % 7) % 5)
      .select(
        concat(lit("m"), (k % 5).cast("string")).as("model_a"),
        concat(lit("m"), ((k % 7) % 5).cast("string")).as("model_b"),
        when(k % 3 === 0, "a").when(k % 3 === 1, "b").otherwise("tie")
          .as("winner"))
  }

  /** BPE-trainer fixture: each doc repeats ONE of four {a,b}-alphabet
    * word forms (aaaa/aaab/abab/bbb by id mod 4) 3 + id%5 times. The
    * near-uniform class weights pin the frequency-weighted pair-count
    * order at every training step (aa first, then ab, then bb — each
    * winner clears the runner-up by >=1.5x), so the learned merge list
    * and every word's segmentation are closed-form constants. */
  private def bpeFixture(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"))
      .withColumn("word",
        when(col("doc_id") % 4 === 0, "aaaa")
          .when(col("doc_id") % 4 === 1, "aaab")
          .when(col("doc_id") % 4 === 2, "abab")
          .otherwise("bbb"))
      .withColumn("text", concat_ws(" ",
        array_repeat(col("word"), (lit(3) + col("doc_id") % 5).cast("int"))))

  /** Keyword-curation fixtures over the documents vocabulary: nested
    * patterns ("scan" inside "slow scan") exercise Aho-Corasick output
    * inheritance, "table value"/"value table" share letters both ways,
    * "zzzqx" never matches (pins the profile's zero row). Oracles
    * re-express each as contains(lower(text), pattern). */
  private[graft] val keywordPatterns = Seq(
    "slow scan", "scan", "big table", "customer query",
    "table value", "value table", "vector", "zzzqx")
  private val keywordBlocklist = Seq("slow scan", "customer query", "vector")

  /** Shared invariant oracle for the streaming near-dedup family —
    * used by both q_stream_dedup and its Bench raw baseline so the
    * row shape cannot diverge. Checks, over (key, id, sim) frames:
    * shard survivors pairwise > maxHamming apart, every dropped doc
    * covered by a shard survivor, at least the 50 planted collisions
    * dropped, and survivors + dropped = corpus. */
  private[graft] def streamDedupInvariants(
      fps: DataFrame,
      kept: DataFrame,
      corpus: DataFrame,
      maxHamming: Int): DataFrame = {
    val dropped = fps.join(kept.select("id"), Seq("id"), "left_anti")
    val a = kept.select(col("key"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = kept.select(col("key"), col("id").as("id_b"), col("sim").as("sim_b"))
    val badPairs = a.join(b, Seq("key"))
      .filter(col("id_a") < col("id_b") &&
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming)
      .agg(count(lit(1)).as("n_bad_pairs"))
    val orphanDrops = dropped
      .join(kept.select(col("key"), col("sim").as("sim_k")), Seq("key"), "left")
      .groupBy("id")
      .agg(max(when(bit_count(col("sim").bitwiseXOR(col("sim_k"))) <= maxHamming, 1)
        .otherwise(0)).as("covered"))
      // coalesce: sum over an EMPTY dropped set is NULL, and the
      // oracle's contract is BIGINT 0
      .agg(coalesce(sum(when(col("covered") === 0 || col("covered").isNull, 1L)
        .otherwise(0L)), lit(0L)).as("n_orphan_drops"))
    badPairs.crossJoin(orphanDrops)
      .crossJoin(dropped.agg(count(lit(1)).as("n_dropped")))
      .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
      .crossJoin(corpus.agg(count(lit(1)).as("n_total")))
      .select(col("n_bad_pairs"), col("n_orphan_drops"),
        (col("n_dropped") >= 50L).as("dropped_planted"),
        (col("n_kept") + col("n_dropped") === col("n_total")).as("conserved"))
  }

  /** Derived event time (ms) for the q_stream_dedup_evtime family —
    * shared with Bench's baseline so the construction cannot diverge: a
    * pure function of the PRE-offset id ((id % 1e6) % 360 minutes).
    * Planted copies (+1e6) and scaled replicas (+k·1e7,
    * [[SpotBench.scaledDocs]]) therefore share their original's
    * timestamp, keeping the planted-drop guarantee at every scale. */
  private[graft] def evtimeDerivedMs: Column =
    pmod(col("id"), lit(1000000L)) % 360 * 60_000L

  /** Window-scoped invariant oracle for the EVENT-TIME streaming
    * near-dedup (q_stream_dedup_evtime). Over (key, id, sim, ts-ms)
    * frames: no two shard survivors are BOTH within `ttlMs` and within
    * `maxHamming` (the first-seen one would have suppressed the
    * other); every dropped doc has a covering survivor inside its
    * window (only emitted docs enter state); at least the 50 planted
    * zero-delta collisions dropped; survivors + dropped = corpus. All
    * four hold for ANY group iteration order, which is what lets a
    * nondeterministic-survivor operator face a constants oracle. */
  private[graft] def streamDedupWindowInvariants(
      fps: DataFrame,
      kept: DataFrame,
      corpus: DataFrame,
      maxHamming: Int,
      ttlMs: Long): DataFrame = {
    val dropped = fps.join(kept.select("id"), Seq("id"), "left_anti")
    val a = kept.select(col("key"), col("id").as("id_a"),
      col("sim").as("sim_a"), col("ts").as("ts_a"))
    val b = kept.select(col("key"), col("id").as("id_b"),
      col("sim").as("sim_b"), col("ts").as("ts_b"))
    val badPairs = a.join(b, Seq("key"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("ts_a") - col("ts_b")) <= ttlMs &&
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming)
      .agg(count(lit(1)).as("n_bad_pairs"))
    val orphanDrops = dropped
      .join(kept.select(col("key"), col("sim").as("sim_k"),
        col("ts").as("ts_k")), Seq("key"), "left")
      .groupBy("id")
      .agg(max(when(abs(col("ts") - col("ts_k")) <= ttlMs &&
          bit_count(col("sim").bitwiseXOR(col("sim_k"))) <= maxHamming, 1)
        .otherwise(0)).as("covered"))
      // coalesce: sum over an EMPTY dropped set is NULL, and the
      // oracle's contract is BIGINT 0
      .agg(coalesce(sum(when(col("covered") === 0 || col("covered").isNull, 1L)
        .otherwise(0L)), lit(0L)).as("n_orphan_drops"))
    badPairs.crossJoin(orphanDrops)
      .crossJoin(dropped.agg(count(lit(1)).as("n_dropped")))
      .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
      .crossJoin(corpus.agg(count(lit(1)).as("n_total")))
      .select(col("n_bad_pairs"), col("n_orphan_drops"),
        (col("n_dropped") >= 50L).as("dropped_planted"),
        (col("n_kept") + col("n_dropped") === col("n_total")).as("conserved"))
  }

  /** Real-streaming late-drop probe for q_stream_dedup_evtime: runs
    * the event-time dedup as an ACTUAL watermarked stream over three
    * planted micro-batches — a base doc, a far-future watermark mover,
    * then two explicitly LATE rows (event time below the advanced
    * watermark): a near-dup of the base and a fresh fingerprint. The
    * below-watermark contract (Streaming.nearDedupStreamEventTime
    * late-data drop) requires BOTH to be dropped — the near-dup would
    * leak a duplicate, the fresh fingerprint proves the drop is the
    * watermark's verdict rather than suppression. `n_late_emitted`
    * counts late-id survivors; the oracle pins it to 0. Shared by the
    * wrapped query and the Bench raw baseline (like
    * [[streamDedupWindowInvariants]]): the contract is streaming-only
    * (a hand-written batch loop has no watermark), so both faces carry
    * the identical probe and the measured difference stays the dedup
    * computation. */
  /** One real probe run per session (weakly keyed so dropped sessions
    * release their entry): Bench executes the same query function
    * several times (suite reading + ratio pairs), and each re-run must
    * re-measure the DEDUP computation, not re-pay the probe's three
    * micro-batches of query-scheduling overhead. The measured late-id
    * count is pinned through the oracle either way — the probe is a
    * contract check on planted data, independent of the sf corpus. */
  private val lateProbeCache =
    new java.util.WeakHashMap[SparkSession, java.lang.Long]

  private[graft] def evtimeLateProbe(s: SparkSession): DataFrame = {
    import s.implicits._
    val n: Long = lateProbeCache.synchronized {
      Option(lateProbeCache.get(s)).map(_.longValue)
    }.getOrElse {
      def ts(min: Long) = new java.sql.Timestamp(3600_000L + min * 60_000L)
      val dir = java.nio.file.Files.createTempDirectory("graft_late_probe").toString
      val batches = Seq(
        Seq(Streaming.TimedSimDoc("k", 1L, 0L, ts(0), "base")),
        Seq(Streaming.TimedSimDoc("other", 2L, 0xAAAAL, ts(120), "watermark mover")),
        Seq(Streaming.TimedSimDoc("k", 9000001L, 1L, ts(5), "late near-dup of base"),
          Streaming.TimedSimDoc("k", 9000002L, 0x5A5A5AL, ts(6), "late fresh fp")))
      batches.zipWithIndex.foreach { case (b, i) =>
        b.toDS().write.mode(if (i == 0) "overwrite" else "append")
          .parquet(s"$dir/in")
        Thread.sleep(20) // distinct mtimes: the file source orders by them
      }
      val streamed = s.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Streaming.TimedSimDoc]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in").as[Streaming.TimedSimDoc]
        .withWatermark("eventTime", "0 seconds")
      val emitted = Streaming.runStreamToMemory(s,
          Streaming.nearDedupStreamEventTime(streamed, maxHamming = 3,
            ttlMs = 60L * 60_000L).toDF(),
          "graft_evtime_late_probe", outputMode = "append")
        .where(col("id") >= 9000000L).count()
      lateProbeCache.synchronized(lateProbeCache.put(s, emitted))
      emitted
    }
    s.range(1).select(lit(n).as("n_late_emitted"))
  }

  /** Planted near-dup flip mask for the q_pipeline_docs128 family —
    * shared by the wrapped query and its Bench raw baseline (like
    * [[streamDedupInvariants]]) so the plant scheme cannot diverge:
    * h = (id % 7) + 1 bits of fingerprint word 0 flipped, spread 9
    * apart so no 16-bit band block absorbs them all — exact Hamming
    * h ∈ [1, 7], inside the default rung's recall contract. */
  private[graft] def neardupPlantMask: Column = {
    def maskFor(h: Int): Long = (0 until h).map(i => 1L << (i * 9)).reduce(_ | _)
    (1 to 7).foldLeft(lit(0L)) { (acc, h) =>
      when(pmod(col("id"), lit(7)) + 1 === h, lit(maskFor(h))).otherwise(acc)
    }
  }

  /** Planted flip mask for q_stream_dedup_fullrecall's near-dup
    * family: h = (id % 3) + 1 bits flipped, ALL inside the top 16-bit
    * block (bits 48/53/58) — exact Hamming h ∈ [1, 3] on pairs that
    * DISAGREE on the top block, i.e. exactly the pairs
    * [[graft.streaming.Streaming.nearDedupStream]]'s single-band rung
    * shards apart and structurally misses (SCALE.md
    * `stream_band_recall`), and that the full-banding store join of
    * [[graft.streaming.Streaming.dedupBatchAgainstStore]] must catch
    * without exception. */
  private[graft] def crossBlockPlantMask: Column = {
    def maskFor(h: Int): Long = (0 until h).map(i => 1L << (48 + i * 5)).reduce(_ | _)
    (1 to 3).foldLeft(lit(0L)) { (acc, h) =>
      when(pmod(col("id"), lit(3)) + 1 === h, lit(maskFor(h))).otherwise(acc)
    }
  }

  /** Shared invariant oracle for the q_stream_dedup_fullrecall family
    * (wrapped query and Bench raw baseline — identical output shape,
    * only the survivor computation under measurement differs). Over
    * (`id`, `sim`) corpus and survivor frames: survivors pairwise
    * > 3 Hamming (banded pairing — recall contract pinned by
    * DedupSpec's planted exact distances, independent of the store
    * logic under test), every drop inside the within-h closure of a
    * survivor (duplicateClusters over the full-corpus pair graph; a
    * dropped doc OUTSIDE the pair graph is equally an orphan — nothing
    * within h could have explained its drop), zero survivors of either
    * plant family, conservation. */
  private[graft] def fullRecallInvariants(all: DataFrame, kept: DataFrame): DataFrame = {
    import graft.dedup.Dedup
    val dropped = all.join(kept.select("id"), Seq("id"), "left_anti")
    // ONE banded pass over the corpus feeds both checks: survivor bad
    // pairs are the full-graph pairs with both endpoints kept (pairs
    // over a subset are a subset of pairs), and the closure check
    // clusters the same graph — fenced so neither consumer re-bands
    val pairsAll = Dedup.simHashPairs(all, 3).localCheckpoint(true)
    val badPairs = pairsAll
      .join(kept.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(kept.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
      .agg(count(lit(1)).as("n_bad_pairs"))
    val clusters = Dedup.duplicateClusters(pairsAll)
    val survivorClusters = clusters.join(kept.select("id"), Seq("id"))
      .select(col("cluster_id")).distinct()
      .withColumn("has_survivor", lit(1))
    val orphans = dropped.select("id")
      .join(clusters, Seq("id"), "left")
      .join(survivorClusters, Seq("cluster_id"), "left")
      .agg(coalesce(sum(when(col("has_survivor").isNull, 1L)
        .otherwise(0L)), lit(0L)).as("n_orphan_drops"))
    badPairs.crossJoin(orphans)
      .crossJoin(kept.agg(
        coalesce(sum(when(col("id") >= 1000000L && col("id") < 2000000L, 1L)
          .otherwise(0L)), lit(0L)).as("n_copy_survivors"),
        coalesce(sum(when(col("id") >= 2000000L, 1L).otherwise(0L)), lit(0L))
          .as("n_crossblock_survivors"),
        count(lit(1)).as("n_kept")))
      .crossJoin(dropped.agg(count(lit(1)).as("n_dropped")))
      .crossJoin(all.agg(count(lit(1)).as("n_total")))
      .select(col("n_bad_pairs"), col("n_orphan_drops"),
        col("n_copy_survivors"), col("n_crossblock_survivors"),
        (col("n_kept") + col("n_dropped") === col("n_total")).as("conserved"))
  }

  /** Shared outcome oracle for the q_pipeline_docs128 family, over the
    * post-drop survivor set and the full planted fingerprint set (both
    * carrying an `id` column): zero planted exact copies (ids ≥ 1e6)
    * and zero planted near-dups (ids ≥ 2e6) may survive. */
  private[graft] def pipeline128Outcome(kept: DataFrame, allFps: DataFrame): DataFrame =
    kept.agg(
        count(lit(1)).as("n_kept"),
        sum(when(col("id") >= 1000000L && col("id") < 2000000L, 1L)
          .otherwise(0L)).as("n_copy_survivors"),
        sum(when(col("id") >= 2000000L, 1L).otherwise(0L))
          .as("n_neardup_survivors"))
      .crossJoin(allFps.agg(count(lit(1)).as("n_total")))
      .select(
        col("n_copy_survivors"),
        col("n_neardup_survivors"),
        (col("n_kept") <= col("n_total") - 100L).as("dropped_all_copies"),
        (col("n_kept") >= 1L).as("has_survivors"))

  /** events.parquet's `ts` has shipped as TIMESTAMP(NANOS) (read as
    * LongType nanos under legacy.parquet.nanosAsLong) and as
    * timestamp[us] NTZ across testdata regenerations — normalise every
    * shape to TimestampType via the shared helper (which throws on
    * anything unexpected rather than passing junk downstream). */
  private def eventsDf(s: SparkSession, dir: String): DataFrame =
    DataFrameOps.normalizeEventTs(t(s, dir, "events"))

  /** documents ∪ near-duplicate copies (ids offset by 1,000,000) — makes
    * near-dup detection queries produce guaranteed non-empty output. */
  private[graft] def augmentedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val dups = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" extra tail token")).as("text"))
    d.unionByName(dups)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Revenue by region: broadcast-joined dims, one shuffle for the agg.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val lineitem = t(spark, dir, "lineitem")
    val supplier = t(spark, dir, "supplier")
    val nation = t(spark, dir, "nation")
    val region = t(spark, dir, "region")
    lineitem
      .join(broadcast(supplier), lineitem("l_suppkey") === supplier("s_suppkey"))
      .join(broadcast(nation), supplier("s_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // =================================================================
  // Queries — one per operator. Signature: (session, sfDir) => DF.
  // =================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------------------------------------------- §2.1 core
    "q_melt" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
      DataFrameOps.melt(li, Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_discount", "l_tax"))
    }),

    "q_map_colnames" -> ((s, d) =>
      DataFrameOps.mapColumnNames(
        t(s, d, "region").select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name")),
        Map("r_regionkey" -> "region_key", "r_name" -> "region_name"))),

    "q_colname_value_map" -> ((s, d) =>
      t(s, d, "nation")
        .withColumn("m", DataFrameOps.colnameToValueMap(Seq("n_name")))
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          element_at(col("m"), "n_name").as("name_from_map"))),

    "q_unpack_list" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          array(col("l_quantity"), col("l_tax")).as("vals"))
      DataFrameOps.unpackListCol(li, "vals", "v").drop("vals")
    }),

    "q_rank_numeric" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("rnk",
          Windows.rankNumeric(Seq("l_linenumber"), Seq("l_orderkey"), ascending = true))
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("rnk").cast("long").as("rnk"))),

    "q_first_obs" -> ((s, d) =>
      // o_orderkey is unique per customer → deterministic top-1 ordering
      DataFrameOps.selectFirstObsAppearingInGroup(
        t(s, d, "orders"), Seq("o_custkey"), "o_orderkey", ascending = true)
        .select(col("o_custkey").cast("long").as("o_custkey"),
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_totalprice"))),

    "q_median_price" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("median_qty", Windows.calcMedianPrice(Seq("l_returnflag"), "l_quantity"))
        .select(col("l_returnflag"), col("median_qty"))
        .distinct()),

    "q_window_running" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("run_total",
          round(sum(col("o_totalprice"))
            .over(Windows.getWindowSpec(Seq("o_custkey"), Seq("o_orderdate"))), 6))
        .select(col("o_orderkey").cast("long").as("o_orderkey"), col("run_total"))),

    "q_struct_roundtrip" -> ((s, d) =>
      DataFrameOps.convertStructColToColumns(
        DataFrameOps.convertColsToStructCol(
          t(s, d, "nation"), "info", Seq("n_name", "n_regionkey")))
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))),

    "q_drop_dups" -> ((s, d) =>
      DataFrameOps.dropDuplicatesReproducible(
        t(s, d, "orders"), "o_custkey", idCol = Some("o_orderkey"))
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"), col("o_totalprice"))),

    "q_cumulative_array" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .withColumn("arr", array(col("l_quantity"), col("l_discount"), col("l_tax")))
      DataFrameOps.cumulativeArray(li, "arr", "cum")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          element_at(col("cum"), 1).as("c1"),
          element_at(col("cum"), 2).as("c2"),
          element_at(col("cum"), 3).as("c3"))
    }),

    "q_union_mismatched" -> ((s, d) => {
      val df1 = t(s, d, "region")
        .select(col("r_regionkey").cast("long").as("rk"), col("r_name"))
      val df2 = t(s, d, "nation")
        .select(col("n_regionkey").cast("long").as("rk"), col("n_name"))
      DataFrameOps.unionMismatchedDfs(df1, df2)
    }),

    "q_sum_columns" -> ((s, d) =>
      DataFrameOps.sumColumns(t(s, d, "lineitem"),
        Seq("l_quantity", "l_discount", "l_tax"), "total")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("total"))),

    "q_set_nulls" -> ((s, d) =>
      DataFrameOps.setNulls(t(s, d, "orders"), "o_orderstatus", Seq("O", "F"))
        .select(col("o_orderkey").cast("long").as("o_orderkey"), col("o_orderstatus"))),

    "q_union_multi" -> ((s, d) => {
      val n = t(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      DataFrameOps.unionMultiDfs(Seq(
        n.filter(col("n_regionkey") === 0),
        n.filter(col("n_regionkey") === 1),
        n.filter(col("n_regionkey") === 2)))
    }),

    "q_join_multi" -> ((s, d) => {
      val n = t(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("rk"))
      val r = t(s, d, "region")
        .select(col("r_regionkey").cast("long").as("rk"), col("r_name"))
      val nr = DataFrameOps.joinMultiDfs(Seq(n, r), Seq("rk"), "inner")
      val c = t(s, d, "customer")
        .groupBy(col("c_nationkey").cast("long").as("n_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
      DataFrameOps.joinMultiDfs(Seq(nr, c), Seq("n_nationkey"), "left")
        .select(col("n_nationkey"), col("n_name"), col("r_name"), col("n_customers"))
    }),

    "q_map_values" -> ((s, d) =>
      DataFrameOps.mapColumnValues(
        t(s, d, "region").select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name")),
        Map("ASIA" -> "Asia-Pacific", "EUROPE" -> "EMEA"), "r_name")),

    "q_filter_out" -> ((s, d) =>
      DataFrameOps.filterOutValues(t(s, d, "orders"), "o_orderstatus", Seq("O"))
        .select(col("o_orderkey").cast("long").as("o_orderkey"), col("o_orderstatus"))),

    "q_apply_col_func" -> ((s, d) =>
      DataFrameOps.applyColFunc(
        t(s, d, "nation").select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name")),
        Seq("n_name"),
        (df, c) => df.withColumn(c, upper(col(c))))),

    "q_cut_lineage" -> ((s, d) =>
      DataFrameOps.cutLineage(
        t(s, d, "region").select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name")))),

    "q_set_nullable" -> ((s, d) =>
      DataFrameOps.setColumnsNullable(
        t(s, d, "region").select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name")),
        Seq("r_name"), nullable = true)),

    "q_smart_coalesce" -> ((s, d) =>
      DataFrameOps.smartCoalesce(t(s, d, "lineitem"))
        .agg(count(lit(1)).as("n_rows"))),

    "q_random_uniform" -> ((s, d) =>
      // engine-internal RNG — the oracle checks the verifiable contract:
      // one value per input row, every draw inside [lower, upper), and
      // the key set preserved. Per-seed determinism is asserted in
      // DataFrameOpsSpec.
      DataFrameOps.randomUniform(
        t(s, d, "region").select(col("r_regionkey").cast("long").as("r_regionkey")),
        "u", lower = 10.0, upper = 20.0, seed = Some(42L))
        .agg(count(lit(1)).as("n_rows"),
          (min(col("u")) >= 10.0 && max(col("u")) < 20.0).as("in_bounds"),
          countDistinct(col("r_regionkey")).as("n_keys"))),

    "q_percentiles" -> ((s, d) =>
      core.Aggregations.percentiles(t(s, d, "lineitem"),
        Seq("l_returnflag"), "l_quantity", Seq(0.25, 0.5, 0.75), exact = true)
        .select(col("l_returnflag"),
          round(col("p25"), 6).as("p25"), round(col("p50"), 6).as("p50"),
          round(col("p75"), 6).as("p75"))),

    "q_word_freq" -> ((s, d) =>
      TextFunctions.wordFrequencies(t(s, d, "documents"), "text", topN = 20)),

    "q_cube" -> ((s, d) =>
      core.Aggregations.cubeAgg(t(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus"),
        Seq("sum_qty" -> round(sum("l_quantity"), 6), "n" -> count(lit(1))))),

    "q_rollup" -> ((s, d) =>
      core.Aggregations.rollupAgg(t(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus"),
        Seq("sum_qty" -> round(sum("l_quantity"), 6), "n" -> count(lit(1))))),

    "q_distinct_count" -> ((s, d) =>
      core.Aggregations.distinctCount(t(s, d, "orders"),
        Seq("o_orderstatus"), "o_custkey")),

    "q_intersect" -> ((s, d) => {
      val n = t(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      DataFrameOps.intersectDfs(
        n.filter(col("n_regionkey") <= 2), n.filter(col("n_regionkey") >= 1))
    }),

    "q_except" -> ((s, d) => {
      val n = t(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      DataFrameOps.exceptDfs(
        n.filter(col("n_regionkey") <= 2), n.filter(col("n_regionkey") >= 1))
    }),

    "q_lead_lag" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          Windows.lagOver(col("o_totalprice"), 1,
            Seq("o_custkey"), Seq("o_orderkey")).as("prev_price"),
          Windows.leadOver(col("o_totalprice"), 1,
            Seq("o_custkey"), Seq("o_orderkey")).as("next_price"),
          Windows.ntileOver(4, Seq("o_custkey"), Seq("o_orderkey"))
            .cast("long").as("quartile"))),

    // ------------------------------------------------ §2.1 checks
    "q_count_nulls" -> ((s, d) => Checks.countNullsDf(t(s, d, "orders"))),

    "q_agg_col" -> ((s, d) => {
      import s.implicits._
      Seq(Checks.aggregateCol(t(s, d, "lineitem"), "l_quantity", "sum")).toDF("value")
    }),

    "q_get_unique" -> ((s, d) => {
      import s.implicits._
      Checks.getUnique(t(s, d, "customer"), "c_mktsegment")
        .map(_.asInstanceOf[String]).toDF("c_mktsegment")
    }),

    "q_has_no_nulls" -> ((s, d) => {
      import s.implicits._
      Seq(Checks.hasNoNulls(t(s, d, "lineitem"), "l_quantity")).toDF("result")
    }),

    // -------------------------------------------- §2.2 averaging
    "q_weighted_arith" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .withColumn("share", Averaging.getWeightShares(col("l_quantity"), Seq("l_returnflag")))
      li.groupBy("l_returnflag")
        .agg(round(Averaging.weightedArithmeticAverage(col("l_extendedprice"), col("share")), 6)
          .as("wavg"))
    }),

    "q_weighted_geom" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .withColumn("share", Averaging.getWeightShares(col("l_quantity"), Seq("l_returnflag")))
      li.groupBy("l_returnflag")
        .agg(round(Averaging.weightedGeometricAverage(col("l_extendedprice"), col("share")), 6)
          .as("wgeo"))
    }),

    "q_unweighted_avgs" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(
          round(Averaging.unweightedArithmeticAverage(col("l_extendedprice")), 6).as("uavg"),
          round(Averaging.unweightedGeometricAverage(col("l_extendedprice")), 6).as("ugeo"))),

    "q_weight_shares" -> ((s, d) =>
      t(s, d, "supplier")
        .withColumn("share",
          round(Averaging.getWeightShares(col("s_acctbal"), Seq("s_nationkey")), 6))
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("share"))),

    // ------------------------------------------------- §2.3 io
    "q_load_csv" -> ((s, d) => {
      val tmp = s"$scratch/region_csv"
      t(s, d, "region").write.mode("overwrite").option("header", "true").csv(tmp)
      Tables.loadCsv(s, tmp,
        keepColumns = Seq("r_regionkey", "r_name"),
        renameColumns = Map("r_name" -> "region_name"),
        options = Map("inferSchema" -> "true"))
        .select(col("r_regionkey").cast("long").as("r_regionkey"), col("region_name"))
    }),

    "q_table_roundtrip" -> ((s, d) => {
      val n = t(s, d, "nation")
      s.sql("DROP TABLE IF EXISTS graft_tmp_nation")
      graft.io.FileOps.deleteFile(s, s.conf.get("spark.sql.warehouse.dir") + "/graft_tmp_nation", recursive = true)
      Tables.insertDfToTable(s, n, "graft_tmp_nation", overwrite = true)
      Tables.loadAndValidateTable(s, "graft_tmp_nation", filterCond = Some("n_regionkey = 0"))
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
    }),

    "q_pushdown_read" -> ((s, d) =>
      // option-driven reader: filters + projection reach the parquet scan
      io.ReadTable.readParquet(s, s"$d/lineitem.parquet",
        columns = Seq("l_orderkey", "l_shipdate", "l_returnflag", "l_quantity"),
        dateColumn = Some("l_shipdate"),
        dateRange = Some(("1995-01-01", "1996-01-01")),
        columnFilters = Map("l_returnflag" -> Seq("A", "N")))
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_shipdate").cast("date").as("ship_date"),
          col("l_returnflag"), col("l_quantity"))),

    "q_write_partitioned" -> ((s, d) => {
      val target = s"$scratch/part_tbl"
      io.WriteTable.writeTable(
        t(s, d, "lineitem").select("l_orderkey", "l_quantity", "l_shipdate"),
        target, mode = "overwrite",
        partitionCol = Some("l_shipdate"), partitionType = Some("month"),
        clusteredFields = Seq("l_orderkey"))
      s.read.parquet(target)
        .groupBy("part_key")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 6).as("sum_qty"))
        .select(col("part_key").cast("string").as("part_key"),
          col("n_rows"), col("sum_qty"))
    }),

    "q_date_snap" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          graft.helpers.Dates.monthStart(col("o_orderdate")).as("month_start"),
          graft.helpers.Dates.monthEnd(col("o_orderdate")).as("month_end"),
          graft.helpers.Dates.quarterStart(col("o_orderdate")).as("quarter_start"))),

    "q_event_cost" -> ((s, d) => {
      // fixture event log (reference parser.py doctest shape) → summary
      // metrics → cheapest-fit EC2/EMR cost; constant-output oracle
      import s.implicits._
      val fixture = Seq(
        """{"Event":"SparkListenerApplicationStart","Timestamp":1739793526775,"App Name":"ExamplePipeline"}""",
        """{"Event":"SparkListenerExecutorAdded","Executor Info":{"Total Cores":4}}""",
        """{"Event":"SparkListenerExecutorAdded","Executor Info":{"Total Cores":4}}""",
        """{"Event":"SparkListenerStageSubmitted","Properties":{"spark.executor.memory":"4g","spark.yarn.executor.memoryOverhead":"2g","spark.executor.cores":"4"}}""",
        """{"Event":"SparkListenerApplicationEnd","Timestamp":1739793626775}""")
      val summary = graft.observability.EventLogParser.parseEvents(fixture.iterator)
      val report = graft.observability.Ec2Pricing.pipelineCost(summary)
      Seq((summary.pipelineName.get, summary.totalTimeMs, summary.totalCores.toLong,
        summary.totalMemoryGb.toLong, report.instance.instanceType, report.pipelineCost))
        .toDF("pipeline", "total_time_ms", "total_cores", "total_memory_gb",
          "instance_type", "pipeline_cost")
    }),

    "q_event_sweep" -> ((s, d) => {
      // directory sweep over a fixture logs tree (reference
      // process_pyspark_logs): 3 parseable runs in the rolling-event-log
      // layout, one corrupt run (no app-end → skipped, counted), one
      // decoy file and one non-events file (never picked up)
      import s.implicits._
      import java.nio.file.{Files, Paths}
      val base = s"$scratch/event_sweep"
      def write(id: String, lines: Seq[String]): Unit = {
        val dir = Paths.get(s"$base/eventlog_v2_spark-$id")
        Files.createDirectories(dir)
        Files.write(dir.resolve(s"events_1_spark-$id"),
          lines.mkString("\n").getBytes("UTF-8"))
      }
      def run(app: String, ts: Long, end: Long, nExec: Int, cores: Int,
          mem: String, overhead: String): Seq[String] =
        Seq(s"""{"Event":"SparkListenerApplicationStart","Timestamp":$ts,"App Name":"$app"}""") ++
          Seq.fill(nExec)(s"""{"Event":"SparkListenerExecutorAdded","Executor Info":{"Total Cores":$cores}}""") ++
          Seq(s"""{"Event":"SparkListenerStageSubmitted","Properties":{"spark.executor.memory":"$mem","spark.yarn.executor.memoryOverhead":"$overhead","spark.executor.cores":"$cores"}}""",
            s"""{"Event":"SparkListenerApplicationEnd","Timestamp":$end}""")
      write("0001", run("AlphaPipeline", 1700000000000L, 1700003600000L, 2, 4, "4g", "2g"))
      write("0002", run("BetaPipeline", 1700100000000L, 1700107200000L, 3, 2, "8g", "0g"))
      write("0003", run("AlphaPipeline", 1700200000000L, 1700201800000L, 1, 4, "2g", "0g"))
      write("0bad", Seq("""{"Event":"SparkListenerApplicationStart","Timestamp":1,"App Name":"Broken"}"""))
      Files.write(Paths.get(s"$base/notalog.txt"), "decoy".getBytes("UTF-8"))
      Files.write(Paths.get(s"$base/eventlog_v2_spark-0001/appstatus_1"),
        "not an events file".getBytes("UTF-8"))
      val (logs, errs) = graft.observability.EventLogSweep.processLogs(s, base)
      val sorted = graft.observability.EventLogSweep.filterAndSortByAppName(logs)
      sorted.zipWithIndex.map { case (r, i) =>
        (i + 1L, r.pipeline.get, r.timestamp.get, r.total_time_ms,
          r.total_cores.toLong, r.total_memory_gb.toLong, r.instance_type,
          r.pipeline_cost, errs.size.toLong)
      }.toDF("sweep_rank", "pipeline", "ts_ms", "total_time_ms", "total_cores",
        "total_memory_gb", "instance_type", "pipeline_cost", "n_errors")
    }),

    // --------------------------------------- URL / domain curation
    "q_url_parse" -> ((s, d) =>
      urlDocs(s, d).select(col("doc_id"),
        UrlFunctions.urlProtocol(col("url")).as("protocol"),
        UrlFunctions.urlHost(col("url")).as("host"),
        UrlFunctions.urlPath(col("url")).as("path"),
        UrlFunctions.urlDomain(col("url")).as("domain"))),

    "q_domain_profile" -> ((s, d) =>
      UrlFunctions.domainProfile(
        UrlFunctions.filterBlockedDomains(urlDocs(s, d), "url",
          Seq("blocked.com")), "url")),

    "q_domain_quota" -> ((s, d) =>
      UrlFunctions.domainQuota(urlDocs(s, d), "url", n = 5, "doc_id",
        salt = "dq").select("doc_id")),

    // ------------------------------------ keyword curation (Aho-Corasick)
    "q_keyword_tag" -> ((s, d) => {
      val tagged = graft.text.Keywords.tagKeywords(
        t(s, d, "documents"), "text", keywordPatterns)
      // matched is already sorted-distinct; join to a scalar string so
      // the driver's pandas comparator (which cannot sort LIST columns)
      // can canonicalise the frame.
      tagged.where(size(col("matched")) > 0)
        .select(col("doc_id").cast("long").as("doc_id"),
          array_join(col("matched"), "|").as("matched"))
    }),

    "q_keyword_filter" -> ((s, d) =>
      graft.text.Keywords.filterBlockedKeywords(
        t(s, d, "documents"), "text", keywordBlocklist)
        .select(col("doc_id").cast("long").as("doc_id"))),

    "q_keyword_profile" -> ((s, d) =>
      graft.text.Keywords.keywordProfile(
        t(s, d, "documents"), "text", keywordPatterns)),

    "q_keyword_mask" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id"),
        graft.text.Keywords.maskKeywords(
          TextFunctions.normalizeText(col("text")), keywordPatterns)
          .as("masked"))),

    "q_pipeline_curation" -> ((s, d) => {
      // the r13 web-curation front door composed end-to-end: domain
      // blocklist (eTLD+1-wide) → Aho-Corasick keyword blocklist →
      // quality gate → exact dedup → per-domain corpus stats. Every
      // stage is a narrow filter until the one dedup window and the
      // domain-cardinality aggregate.
      val docs = urlDocs(s, d)
      val afterUrl = UrlFunctions.filterBlockedDomains(
        docs, "url", Seq("blocked.com"))
      val afterKw = graft.text.Keywords.filterBlockedKeywords(
        afterUrl, "text", keywordBlocklist)
      val gated = afterKw
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
      graft.dedup.Dedup.exactDedup(gated, "text", "doc_id")
        .groupBy(UrlFunctions.urlDomain(col("url")).as("domain"))
        // avg over micro-unit LONGS, not doubles: float summation order is
        // run-dependent in both engines and can flip the 6-dp round at a
        // boundary (flaked once in r13 verify); the integer sum is exact,
        // so the final single division is bit-deterministic on both sides
        .agg(count(lit(1)).as("n_docs"),
          round(sum(round(col("quality") * 1000000d).cast("long"))
              .cast("double") /
            (count(lit(1)) * 1000000L).cast("double"), 6).as("avg_quality"),
          sum(TextFunctions.tokenCount(col("text")).cast("long"))
            .as("total_tokens"))
    }),

    // ------------------------------------------------ text analysis
    "q_bigram_perplexity" -> ((s, d) =>
      graft.text.Relevance.bigramPerplexity(
        t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("text")),
        "doc_id", "text")),

    "q_subword_vocab" -> ((s, d) =>
      graft.text.Subword.buildWordVocab(
        t(s, d, "documents"), "text", maxWords = 20)),

    "q_subword_counts" -> ((s, d) => {
      // the greedy matcher end-to-end under the two closed-form
      // vocabularies: every corpus word (1 piece per word — the count
      // IS the token count) and characters only (len(word) pieces —
      // the count IS the no-space char count). The interesting middle
      // (prefix-vs-whole greedy, ## continuations, unk rollback) is
      // pinned in SubwordSpec.
      val words = graft.text.Subword
        .buildWordVocab(t(s, d, "documents"), "text", maxWords = 100000)
        .collect().map(_.getString(0)).toSeq
      val chars = graft.text.Subword.charFallback(words)
      t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        graft.text.Subword.subwordCount(
          TextFunctions.normalizeText(col("text")), words)
          .cast("long").as("n_word_pieces"),
        graft.text.Subword.subwordCount(
          TextFunctions.normalizeText(col("text")), chars)
          .cast("long").as("n_char_pieces"))
    }),

    "q_bpe_merges" -> ((s, d) => {
      // BPE training end-to-end on a corpus whose Zipf table forces a
      // provable merge order: words aaaa/aaab/abab/bbb at near-equal
      // doc frequency give pair counts aa≈5c > ab≈3c > bb≈2c at each
      // step (>=1.5x margins, robust to the fixture's +-1% class
      // skew), so the learned ranked merges are constants
      import s.implicits._
      val merges = graft.text.Subword.trainBpeMerges(
        bpeFixture(s, d), "text", numMerges = 3)
      merges.zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("rank", "left_sym", "right_sym")
    }),

    "q_bpe_encode" -> ((s, d) => {
      // train-then-encode round trip: the fixture's four word forms
      // all segment to exactly 2 pieces under the 3 learned merges,
      // so per-doc piece counts and the joined segmentation are
      // closed-form in the id
      val fixture = bpeFixture(s, d)
      val merges = graft.text.Subword.trainBpeMerges(
        fixture, "text", numMerges = 3)
      fixture.select(col("doc_id"),
        graft.text.Subword.bpeCount(col("text"), merges)
          .cast("long").as("n_pieces"),
        concat_ws(" ", graft.text.Subword.bpeEncode(col("text"), merges))
          .as("pieces"))
    }),

    "q_bigram_perplexity_lm" -> ((s, d) => {
      // the production CCNet shape: the reference LM trains on a CLEAN
      // half (even doc_ids), every document scores against it — unseen
      // bigrams degrade to the smoothed unigram, unseen words take the
      // unseen mass
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val ref = docs.filter(col("doc_id") % 2 === 0)
      graft.text.Relevance.bigramPerplexity(docs, "doc_id", "text",
        lmBigrams = Some(graft.text.Relevance.bigramCounts(ref, "text")),
        lmUnigrams = Some(graft.text.Relevance.unigramCounts(ref, "text")))
    }),

    "q_token_counts" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
          TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_bpe"))),

    "q_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fp"))),

    "q_normalize" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          TextFunctions.normalizeText(col("text")).as("norm"))),

    "q_quality" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"))),

    "q_langid" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          TextFunctions.langId(col("text"), Seq(
            "db" -> Seq("table", "row", "column"),
            "en" -> Seq("the", "a", "of"),
            "ops" -> Seq("merge", "sort", "scan"))).as("lang_guess"))),

    "q_entropy" -> ((s, d) =>
      // Shannon char/token entropy quality signals, codegen'd scalar
      // kernels in one narrow pass; DuckDB recomputes both exactly via
      // its entropy() aggregate (both sides round to 6 dp so the 9-dp
      // float canonicalisation can't straddle a boundary)
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          round(TextFunctions.charEntropy(col("text")), 6).as("char_entropy"),
          round(TextFunctions.tokenEntropy(col("text")), 6).as("token_entropy"))),

    "q_compress_filter" -> ((s, d) => {
      // the compressibility filter on a fixture with provable margins:
      // even ids carry boilerplate (repeated phrase, deflate ratio
      // ~0.09), odd ids carry md5-hex noise (16-symbol alphabet, ratio
      // >= ~0.5) — thresholding at 0.4 recovers the parity exactly
      val idStr = col("doc_id").cast("long").cast("string")
      val noise = (0 until 8).map(i => md5(concat(idStr, lit(s"n$i"))))
        .reduce(concat(_, _))
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("text",
          when(col("doc_id") % 2 === 0,
            concat_ws("", array_repeat(lit("spark data batch "),
              (lit(20) + col("doc_id") % 10).cast("int"))))
            .otherwise(noise))
        .select(col("doc_id"),
          (TextFunctions.deflateRatio(col("text")) < 0.4).as("is_boilerplate"))
    }),

    // ---------------------------------------------------- dedup
    "q_exact_dedup" -> ((s, d) =>
      Dedup.exactDedup(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"))),

    "q_script_profile" -> ((s, d) =>
      text.TextFunctions.scriptProfile(
        t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text")),
        "doc_id", "text")),

    "q_cluster_sizes" -> ((s, d) => {
      // duplication topology over the window-sharing pair graph
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val wins = docs.select(col("doc_id"),
        explode(array_distinct(graft.functions.HashFunctions.windowHashesNative(
          graft.text.TextFunctions.normTokens(col("text")), 8))).as("w"))
      val pairs = wins.as("l")
        .join(wins.as("r"),
          col("l.w") === col("r.w") && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
        .distinct()
      Dedup.clusterSizeProfile(pairs)
    }),

    "q_leakage_split" -> ((s, d) => {
      // leakage-safe 80/20 split: docs sharing an 8-token window (the
      // near-dup pair graph) must land in the SAME split
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val wins = docs.select(col("doc_id"),
        explode(array_distinct(graft.functions.HashFunctions.windowHashesNative(
          graft.text.TextFunctions.normTokens(col("text")), 8))).as("w"))
      val pairs = wins.as("l")
        .join(wins.as("r"),
          col("l.w") === col("r.w") && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
        .distinct()
      Dedup.leakageSafeSplit(docs, "doc_id", pairs,
        Seq("train" -> 0.8, "test" -> 0.2), salt = "ls")
        .select(col("doc_id"), col("split"))
    }),

    "q_dedup_quality" -> ((s, d) => {
      // measured precision/recall of a blocked pair generator (here:
      // docs sharing >= 1 exact 8-token window) vs exact char-3-gram
      // Jaccard ground truth at 0.7 — the dial-tuning harness
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val wins = docs.select(col("doc_id"),
        explode(array_distinct(graft.functions.HashFunctions.windowHashesNative(
          graft.text.TextFunctions.normTokens(col("text")), 8))).as("w"))
      val cand = wins.as("l")
        .join(wins.as("r"),
          col("l.w") === col("r.w") && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
        .distinct()
      Dedup.pairQuality(docs, cand, "text", "doc_id", n = 3, threshold = 0.7)
    }),

    "q_ngram_pairs" -> ((s, d) =>
      // all-pairs exactness baseline — deliberately bounded to a slice
      // (doc_id < 1000) so the quadratic baseline stays tractable at
      // bench scale; the LSH variant below is the full-corpus path
      Dedup.ngramJaccardAllPairs(
        t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
          .filter(col("doc_id") < 1000),
        "text", "doc_id", n = 3, threshold = 0.7)),

    "q_minhash_dedup" -> ((s, d) =>
      // exact oracle: on this corpus the (16 bands × 4 rows) S-curve
      // recalls every pair with verified Jaccard ≥ 0.7, so the LSH
      // output equals the all-pairs exact result the oracle computes
      Dedup.minHashNearDuplicates(augmentedDocs(s, d), "text", "doc_id", threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    "q_dedup_against" -> ((s, d) => {
      // cross-corpus near-dedup (incremental-ingest shape): the fresh
      // batch carries 50 perturbed copies of ref docs; same exact-recall
      // argument as q_minhash_dedup (16x4 banding recalls every >=0.7
      // pair on this corpus), so the survivor set equals the all-pairs
      // NOT EXISTS oracle
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val ref = docs.filter(col("doc_id") < 250)
      val fresh = docs.filter(col("doc_id") >= 250)
        .unionByName(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" extra tail token")).as("text")))
      Dedup.minHashDedupAgainst(fresh, ref, "text", "doc_id", threshold = 0.7)
        .select(col("doc_id"))
    }),

    "q_pipeline_incremental" -> ((s, d) => {
      // the incremental-ingest CLUSTER pipeline end-to-end, in its
      // 100 TB serving shape: the ref corpus's minhash base is
      // computed ONCE and persisted text-free (saveMinHashRef); the
      // cluster-state artifact derives from pairs served off it
      // (minHashPairsFromRef — ref text untouched); a fresh batch
      // (unseen docs + 50 perturbed ref copies) contributes its
      // complete new-edge set in ONE batch kernel pass
      // (minHashIncrementalEdges: batch↔batch ∪ batch↔artifact); and
      // the state extends incrementally (connectedComponentsAgainst)
      // — no historical pair or kernel is ever recomputed.
      // Exact-recall corpus (the q_minhash_dedup/q_dedup_against
      // argument: 16x4 banding recalls every >=0.7 pair here,
      // verification exact), so the updated labeling equals the
      // recursive closure over the exact >=0.7 Jaccard pairs of the
      // WHOLE union corpus.
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val ref = docs.filter(col("doc_id") < 250)
      val batch = docs.filter(col("doc_id") >= 250)
        .unionByName(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" extra tail token")).as("text")))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_pinc_q").toString
      Dedup.saveMinHashRef(ref, "text", "doc_id", s"$dir/ref")
      // the cluster-state artifact is PERSISTED between ingests (the
      // r18 completion of the serving shape: state lives in parquet,
      // so the default-on canonicality probe and both artifact scans
      // read the store, never a recompute subtree)
      operators.Graph.saveComponents(
        Dedup.minHashPairsFromRef(s, s"$dir/ref", threshold = 0.7),
        "id_a", "id_b", s"$dir/cc")
      val newEdges = Dedup.minHashIncrementalEdges(
        batch, s"$dir/ref", "text", "doc_id", threshold = 0.7)
      operators.Graph.connectedComponentsAgainstRef(
        newEdges, s"$dir/cc", "id_a", "id_b")
    }),

    "q_simhash_dedup" -> ((s, d) =>
      // simhash hamming depends on xxhash64 (engine-internal), so the
      // oracle checks the precision invariants the operator guarantees:
      // every emitted pair within maxHamming, ordered, distinct, and the
      // candidate set non-empty. Recall IS guaranteed at maxHamming = 6:
      // the banding derives from maxHamming (C(8,2) block-pair index —
      // Dedup.simHashNearDuplicates doc); DedupSpec pins a planted
      // Hamming-5 pair.
      Dedup.simHashNearDuplicates(augmentedDocs(s, d), "text", "doc_id", maxHamming = 6)
        .agg(
          sum(when(col("hamming") > 6, 1L).otherwise(0L)).as("n_bad_hamming"),
          sum(when(col("id_a") >= col("id_b"), 1L).otherwise(0L)).as("n_bad_order"),
          (count(lit(1)) - countDistinct(col("id_a"), col("id_b"))).as("n_dup_pairs"),
          (count(lit(1)) >= 1).as("has_pairs"))),

    "q_simhash128" -> ((s, d) =>
      // 128-bit fingerprint at a radius (7, the operator default) the
      // 64-bit banding cannot guarantee — same invariant-style oracle
      // as q_simhash_dedup (fingerprint values are engine-internal);
      // recall is contractual. The 120-band radii 8-14 rung is pinned
      // by DedupSpec's planted Hamming-8 and worst-case Hamming-14
      // pairs; this benches the default 8-band rung (r8 — defaulting
      // into the 120-band rung paid ~15x exchange volume for one
      // radius past the 8-band guarantee)
      Dedup.simHash128NearDuplicates(augmentedDocs(s, d), "text", "doc_id")
        .agg(
          sum(when(col("hamming") > 7, 1L).otherwise(0L)).as("n_bad_hamming"),
          sum(when(col("id_a") >= col("id_b"), 1L).otherwise(0L)).as("n_bad_order"),
          (count(lit(1)) - countDistinct(col("id_a"), col("id_b"))).as("n_dup_pairs"),
          (count(lit(1)) >= 1).as("has_pairs"))),

    "q_ngram_lsh" -> ((s, d) =>
      Dedup.ngramJaccardNearDuplicates(augmentedDocs(s, d), "text", "doc_id", threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    "q_cluster_rep" -> ((s, d) => {
      // retention policy: connected components over exact n-gram pairs,
      // keep the longest member of each near-dup cluster
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
        .withColumn("doc_len", length(col("text")).cast("long"))
      val pairs = Dedup.ngramJaccardAllPairs(
        docs.select("doc_id", "text"), "text", "doc_id", n = 3, threshold = 0.7)
      Dedup.keepClusterRepresentatives(docs, pairs, "doc_id", "doc_len")
        .select(col("doc_id"), col("doc_len"))
    }),

    "q_pii_profile" -> ((s, d) =>
      // audit counterpart of q_scrub over the SAME injected frame:
      // count, don't rewrite
      text.TextFunctions.piiProfile(
        t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
          .withColumn("x", when(col("doc_id") % 10 === 0,
            concat(col("text"),
              lit(" contact bob@example.com via https://ex.io/a?k=12345 ref 99887766551")))
            .otherwise(col("text"))),
        "doc_id", "x")),

    "q_mix_tokens" -> ((s, d) => {
      // token-budget corpus mix: half of src0's ~1.4k tokens, all of
      // src1 (budget above its total), none of src2 (budget 0)
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
      def src(name: String) = docs.filter(col("source") === name)
      core.Sampling.mixCorporaByTokens(
        Seq(("src0", src("src0"), 700L), ("src1", src("src1"), 2000L),
          ("src2", src("src2"), 0L)),
        "doc_id", "text", salt = "mx")
        .select(col("doc_id"), col("source"))
    }),

    "q_scrub" -> ((s, d) =>
      // PII scrub over documents, with synthetic URL/email/number spans
      // injected into every 10th doc so the masks are exercised
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .withColumn("x", when(col("doc_id") % 10 === 0,
          concat(col("text"),
            lit(" contact bob@example.com via https://ex.io/a?k=12345 ref 99887766551")))
          .otherwise(col("text")))
        .select(col("doc_id"), TextFunctions.scrubText(col("x")).as("scrubbed"))),

    "q_det_sample" -> ((s, d) =>
      Sampling.deterministicSample(
        t(s, d, "orders")
          .select(col("o_orderkey").cast("long").as("o_orderkey"), col("o_totalprice")),
        "o_orderkey", fraction = 0.1, salt = "s1")),

    "q_pipeline_dsir" -> ((s, d) => {
      // the end-to-end selection pipeline composing the r13 families:
      // token-entropy quality gate (6-dp rounded, 5e-3 data margins
      // around the 4.0 bar) → DSIR weights vs the doc_id%7 domain
      // target → deterministic Gumbel top-150 resample → reproducible
      // training order; every stage exactly re-expressed in the oracle
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val gated = docs.filter(
        round(TextFunctions.tokenEntropy(col("text")), 6) >= 4.0)
      val target = gated.filter(col("doc_id") % 7 === 0)
      val w = Dsir.importanceWeights(gated, target, "text", "doc_id")
      val sel = Dsir.resampleByWeight(gated.join(w, "doc_id"),
        "log_weight", k = 150, "doc_id", salt = "pd1")
      Sampling.shuffleDeterministic(sel.select("doc_id"), "doc_id", "pd1")
    }),

    "q_exact_quantile" -> ((s, d) =>
      // exact global quantiles WITHOUT a value-buffering aggregate or
      // a single-task sort: range exchange + partition-offset ranks
      // (the Ids pattern), value column only through the exchange
      Quantiles.exactQuantiles(t(s, d, "lineitem"), "l_extendedprice",
        Seq(0.1, 0.5, 0.9, 0.99))),

    "q_quantile_gate" -> ((s, d) =>
      // the "top 10% by score" curation gate: threshold derived
      // in-plan from the exact quantile, broadcast, ties inclusive
      Quantiles.quantileGate(
        t(s, d, "lineitem")
          .select(col("l_orderkey").cast("long").as("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_extendedprice")),
        "l_extendedprice", q = 0.9)),

    "q_unicode_norm" -> ((s, d) =>
      // Unicode hygiene kernels vs DuckDB's nfc_normalize /
      // strip_accents on a fixture of precomposed, decomposed and
      // accented forms (chars chosen where NFD-strip-NFC and DuckDB's
      // fold agree: plain combining-mark diacritics)
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("word",
          when(col("doc_id") % 5 === 0, "café")
            .when(col("doc_id") % 5 === 1, "café")
            .when(col("doc_id") % 5 === 2, "naïve test")
            .when(col("doc_id") % 5 === 3, "über açaí")
            .otherwise("plain ascii"))
        .select(col("doc_id"),
          TextFunctions.normalizeUnicode(col("word")).as("nfc"),
          TextFunctions.foldAccents(col("word")).as("folded"))),

    "q_hard_negatives" -> ((s, d) => {
      // hard-negative mining: planted perturbed copies (+0.01, cosine
      // ~0.9999) sit ABOVE the 0.95 dup ceiling and must be excluded;
      // the negatives are the closest genuinely-different vectors.
      // Exclusion happens before the bounded partial top-k aggregate.
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val dups = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x + lit(0.01)).as("v"))
      Similarity.hardNegativesTopK(emb.unionByName(dups),
        emb.filter(col("vec_id") < 10), "vec_id", "v",
        k = 5, dupCeiling = 0.95)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          round(col("sim"), 6).as("sim"), col("rank").cast("long").as("rank"))
    }),

    "q_pref_bias" -> ((s, d) => {
      // reward-model length-bias audit on a closed-form pair fixture:
      // chosen = full text (n tokens), rejected = first half (n//2),
      // so the bias report is exact arithmetic over the corpus
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .withColumn("__toks", TextFunctions.normTokens(col("text")))
      val pairs = docs.select(col("doc_id"), col("text").as("chosen"),
        concat_ws(" ", slice(col("__toks"), lit(1),
          (size(col("__toks")) / 2).cast("int"))).as("rejected"))
      core.Preferences.lengthBiasSummary(pairs, "doc_id", "chosen", "rejected")
    }),

    "q_pref_leakage" -> ((s, d) => {
      // prompt leakage across splits: prompt classes id%25 span the
      // id%10-derived train/eval split exactly when the class residues
      // {c%10, (c+5)%10} straddle the 8 cut — the fingerprint-grain
      // audit recomputed exactly in SQL
      val pairs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("prompt",
          concat(lit("ask "), (col("doc_id") % 25).cast("string")))
        .withColumn("split",
          when(col("doc_id") % 10 < 8, "train").otherwise("eval"))
      core.Preferences.promptLeakageAcrossSplits(pairs, "prompt", "split")
    }),

    "q_pref_dedup" -> ((s, d) => {
      // prompt-grain dedup: min-id pair per normalised prompt class
      val pairs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("prompt",
          concat(lit("ask "), (col("doc_id") % 25).cast("string")))
      core.Preferences.dedupByPrompt(pairs, "prompt", "doc_id")
        .select(col("doc_id"))
    }),

    "q_pipeline_chat" -> ((s, d) => {
      // chat-to-training composition: conversations rendered to
      // role-tagged text, whitespace-token-budgeted (k role markers +
      // n content tokens, closed-form in the id), packed into fixed
      // 512-token windows per shard — the conversations family feeding
      // the packing family end to end, exactly re-expressed in SQL
      val conv = Conversations.syntheticConversationTable(
        t(s, d, "documents"), "doc_id", "text")
      // stageFence: packTokenWindows' w>0 filter would otherwise push
      // through this projection and re-evaluate the turn-construction
      // + render chain per reference (measured 4.3 s vs 0.8 s at x1,
      // 10.8 vs 1.6 at x8 — SCALE.md chat pipeline rows)
      val weighted = DataFrameOps.stageFence(conv.select(col("conv_id"),
        pmod(col("conv_id"), lit(4)).as("shard"),
        Conversations.renderConversation(col("turns")).as("txt"))
        .withColumn("w", TextFunctions.tokenCount(col("txt")).cast("long")))
      Sampling.packTokenWindows(weighted, "w", 512, Seq("shard"), "conv_id")
        .select(col("shard"), col("conv_id"), col("seq_id"),
          col("doc_start"), col("seq_start"), col("n_tokens"))
    }),

    "q_group_quantile" -> ((s, d) =>
      // per-group exact quantiles via the group-grain partition-offset
      // pattern (assignGroupRanks): a huge group spans partitions
      // instead of sorting through one task
      Quantiles.exactQuantiles(t(s, d, "lineitem"),
        "l_extendedprice", Seq(0.5, 0.9), groupCols = Seq("l_returnflag"))),

    "q_group_quantile_gate" -> ((s, d) =>
      // the stratified curation gate: top 5% by score WITHIN each
      // stratum, so one high-scoring stratum can't crowd out the rest
      Quantiles.quantileGate(
        t(s, d, "lineitem")
          .select(col("l_returnflag"),
            col("l_orderkey").cast("long").as("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_extendedprice")),
        "l_extendedprice", q = 0.95, groupCols = Seq("l_returnflag"))),

    "q_conv_turns" -> ((s, d) =>
      // chat transcripts as array<struct<role,content>>: flatten to
      // per-turn rows; the fixture's turn split and role schedule are
      // closed-form in the id so DuckDB reconstructs the exact table
      Conversations.flattenTurns(
        Conversations.syntheticConversationTable(
          t(s, d, "documents"), "doc_id", "text"))),

    "q_conv_profile" -> ((s, d) =>
      // per-conversation hygiene profile in ONE narrow HOF pass (no
      // explode/shuffle); fixture params give the closed-form oracle
      Conversations.turnProfile(
        Conversations.syntheticConversationTable(
          t(s, d, "documents"), "doc_id", "text"))),

    "q_conv_render" -> ((s, d) =>
      Conversations.syntheticConversationTable(
        t(s, d, "documents"), "doc_id", "text")
        .select(col("conv_id"),
          Conversations.renderConversation(col("turns")).as("training_text"))),

    "q_conv_dedup" -> ((s, d) => {
      // transcript-grain exact dedup: planted re-id'd copies (+1000000)
      // of the first 50 conversations must fall to their originals;
      // duplicate TEXTS with different ids produce different turn
      // splits (k = 2 + id%3) and survive — the oracle recomputes
      // truth by grouping the normalised rendered transcript
      val conv = Conversations.syntheticConversationTable(
        t(s, d, "documents"), "doc_id", "text")
      val copies = conv.filter(col("conv_id") < 50)
        .select((col("conv_id") + 1000000L).as("conv_id"), col("turns"))
      Conversations.conversationDedup(conv.unionByName(copies))
        .select(col("conv_id"))
    }),

    "q_dsir_weights" -> ((s, d) => {
      // word-grain exact DSIR (Xie et al. 2023): target = the doc_id%7
      // "domain sample", source = the whole corpus; log importance
      // weight per doc under add-1 smoothed unigram+bigram models
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val target = docs.filter(col("doc_id") % 7 === 0)
      Dsir.importanceWeights(docs, target, "text", "doc_id")
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"))
    }),

    "q_dsir_sample" -> ((s, d) => {
      // the full DSIR pipeline: weights, then deterministic Gumbel
      // top-k resampling (A-ES in log space on the md5 uniform) —
      // selection ∝ exp(log_weight), reproducible across engines
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val target = docs.filter(col("doc_id") % 7 === 0)
      val w = Dsir.importanceWeights(docs, target, "text", "doc_id")
      Dsir.resampleByWeight(docs.join(w, "doc_id"), "log_weight",
        k = 100, "doc_id", salt = "dsir1")
        .select(col("doc_id"))
    }),

    "q_shuffle_order" -> ((s, d) =>
      // reproducible global training-order permutation: position is a
      // pure function of (doc_id, salt) via the md5 rule, assigned by
      // the partition-offset pattern (no single-task global sort)
      Sampling.shuffleDeterministic(
        t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id")),
        "doc_id", salt = "epoch1")),

    "q_mix_corpora" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 === 1)
      Sampling.mixCorpora(Seq(("even", even, 0.5), ("odd", odd, 0.2)), "doc_id")
        .select(col("doc_id"), col("source"))
    }),

    "q_stratified_sample" -> ((s, d) =>
      // per-language deterministic sampling: downweight the dominant
      // language, keep the rest whole, drop unlisted strata
      Sampling.deterministicStratifiedSample(
        t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang")),
        "lang", Map("en" -> 0.25, "de" -> 1.0, "fr" -> 0.5), "doc_id", salt = "st")),

    "q_temperature_mix" -> ((s, d) =>
      // multilingual temperature sampling at alpha=0.5 toward ~200 docs;
      // rates derive in-plan from per-language counts
      Sampling.temperatureMix(
        t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang")),
        "lang", "doc_id", alpha = 0.5, targetRows = 200, salt = "tm")
        .select(col("doc_id"), col("lang"))),

    "q_pack_shards" -> ((s, d) =>
      // token-budget sharding: cut each source's doc run into ~4000-char
      // shards by exclusive running weight
      Sampling.packShards(
        t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("source"),
            col("n_chars").cast("long").as("n_chars")),
        "n_chars", budget = 4000.0, Seq("source"), "doc_id")
        .select(col("doc_id"), col("source"), col("shard_id"))),

    "q_pack_greedy" -> ((s, d) =>
      // EXACT greedy packing: shard closes when the next doc would
      // overflow; sequential per source, parallel across sources
      Sampling.packShardsGreedy(
        t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("source"),
            col("n_chars").cast("long").as("n_chars")),
        "n_chars", budget = 4000.0, Seq("source"), "doc_id")
        .select(col("doc_id"), col("source"), col("shard_id"))),

    "q_split" -> ((s, d) =>
      // deterministic 80/10/10 split: same row -> same split, any engine
      Sampling.deterministicSplit(
        t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id")),
        "doc_id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), salt = "sp")),

    "q_quota_sample" -> ((s, d) =>
      // exact-N-per-stratum deterministic quota: 20 docs per language
      Sampling.quotaSample(
        t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang")),
        "lang", n = 20, "doc_id", salt = "q")),

    "q_pack_assemble" -> ((s, d) => {
      // greedy packing materialised: one row per shard with ordered
      // concatenated member texts — the sequence a packing pipeline ships
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("text"), col("n_chars").cast("long").as("n_chars"))
      val packed = Sampling.packShardsGreedy(
        docs, "n_chars", budget = 4000.0, Seq("source"), "doc_id")
      Sampling.assembleShards(packed, "text", "n_chars", Seq("source"), "doc_id")
        .select(col("source"), col("shard_id"), col("packed_text"),
          col("n_docs"), col("total_weight"))
    }),

    "q_pack_windows" -> ((s, d) => {
      // concat-and-chunk manifest: per-source token streams cut into
      // EXACT 512-token sequences, docs crossing sequence boundaries —
      // the autoregressive-pretraining layout packShards can't express
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("w"))
      Sampling.packTokenWindows(docs, "w", 512, Seq("source"), "doc_id")
        .select(col("source"), col("doc_id"), col("seq_id"),
          col("doc_start"), col("seq_start"), col("n_tokens"))
    }),

    "q_pack_window_stats" -> ((s, d) => {
      // packing economics per source: sequence count, boundary-crossing
      // docs, tail padding waste
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("w"))
      val manifest = Sampling.packTokenWindows(
        docs, "w", 512, Seq("source"), "doc_id")
      Sampling.tokenPackingStats(manifest, "doc_id", 512, Seq("source"))
        .select(col("source"), col("total_tokens"), col("n_docs"),
          col("n_split_docs"), col("n_sequences"), col("tail_pad_tokens"))
    }),

    "q_pack_window_assemble" -> ((s, d) =>
      // the manifest materialised: literal 512-token training sequences
      Sampling.assembleTokenWindows(
        t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("source"),
            col("text")),
        "text", 512, Seq("source"), "doc_id")
        .select(col("source"), col("seq_id"), col("seq_text"),
          col("n_docs"), col("n_tokens"))),

    "q_bloom_semi" -> ((s, d) => {
      // bloom-prefiltered EXACT semi join: lineitems of high-value orders;
      // the left scan drops definite non-members before any exchange
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_linenumber").cast("long").as("l_linenumber"))
      val big = t(s, d, "orders")
        .filter(col("o_totalprice") > 450000.0)
        .select(col("o_orderkey").cast("long").as("o_orderkey"))
      DataFrameOps.bloomSemiJoin(li, big, "l_orderkey", "o_orderkey")
    }),

    "q_bloom_anti" -> ((s, d) => {
      // bloom-accelerated EXACT anti join: customers who never placed a
      // high-value order — bloom misses route straight to the output
      val cust = t(s, d, "customer")
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"))
      val big = t(s, d, "orders")
        .filter(col("o_totalprice") > 450000.0)
        .select(col("o_custkey").cast("long").as("o_custkey"))
      DataFrameOps.bloomAntiJoin(cust, big, "c_custkey", "o_custkey")
    }),

    "q_bloom_decontaminate" -> ((s, d) => {
      // same corpus + plants as q_decontaminate, but through the bloom
      // prefilter path — output must be bit-identical to the exact pass
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val evalDf = docs.filter(col("doc_id") < 100)
      val evalTexts = evalDf
        .select((col("doc_id") + 100L).as("doc_id"), col("text").as("etext"))
      val train = docs.filter(col("doc_id") >= 100)
        .join(evalTexts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") < 110 && col("etext").isNotNull,
            concat(col("text"), lit(" "), col("etext")))
            .otherwise(col("text")).as("text"))
        .repartition(s.sparkContext.defaultParallelism)
      Dedup.bloomDecontaminate(train, evalDf, "text", "doc_id", n = 5, minHits = 1)
        .select(col("doc_id"))
    }),

    "q_quantize" -> ((s, d) =>
      // qvec rendered as a CSV string: the gate's compare layer hashes
      // scalar cells and cannot hash array values, so the full vector is
      // checked element-for-element via its joined representation
      Quantize.quantizeInt8(
        t(s, d, "embeddings")
          .select(col("vec_id").cast("long").as("vec_id"), col("embedding")),
        "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          concat_ws(",", col("qvec")).as("qvec_csv"))),

    // ------------------------------------------------- similarity
    "q_embedding_drift" -> ((s, d) => {
      // encoder/mix shift monitor: first half of the embedding table
      // as reference, second half (with a deterministic +0.05 shift on
      // the first dimension) as current — both metrics must move
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val ref = emb.filter(col("vec_id") < 250)
      val cur = emb.filter(col("vec_id") >= 250)
        .select(col("vec_id"),
          transform(col("v"), (x, i) => when(i === 0, x + 0.05).otherwise(x)).as("v"))
      core.Drift.embeddingDrift(ref, cur, "v")
    }),

    "q_matryoshka" -> ((s, d) => {
      // MRL serving tier: brute-force top-5 over 16-dim truncated +
      // renormed prefixes — cosine over renormed prefixes equals
      // cosine over raw prefixes, which is what the oracle computes
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val tr = Similarity.truncateNormalize(emb, "v", dims = 16)
      Similarity.bruteForceTopK(tr, tr.filter(col("vec_id") < 10), "vec_id", "v", k = 5)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          round(col("sim"), 6).as("sim"), col("rank").cast("long").as("rank"))
    }),

    "q_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          round(col("sim"), 6).as("sim"), col("rank").cast("long").as("rank"))
    }),

    "q_mmr_rerank" -> ((s, d) => {
      // MMR diversified re-ranking of a cosine top-10 pool: 6 queries,
      // k = 4 greedy picks at λ = 0.7, every argmax on 6-dp-rounded
      // scores with id tie-break — the oracle replays the greedy loop
      // stage-by-stage (unrolled, no recursion)
      val emb = t(s, d, "embeddings")
      val pool = Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 6), "vec_id", "embedding", k = 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"), col("sim").as("rel"))
      Similarity.mmrRerank(pool, emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 4, lambda = 0.7)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"), col("mmr_score"))
    }),

    "q_cosine_topk_scalable" -> ((s, d) => {
      // bounded partial-aggregate top-k — same output as q_cosine_topk
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopKScalable(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          round(col("sim"), 6).as("sim"), col("rank").cast("long").as("rank"))
    }),

    "q_ivf_topk" -> ((s, d) => {
      // nprobe == nlist probes every cell → exact, shares the brute-force
      // oracle; recall/cost dial exercised in IvfSpec
      val emb = t(s, d, "embeddings")
      graft.similarity.Ivf.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8,
        // quantizer trained on a seeded half-sample: cheaper build, and
        // with a full probe the result set is identical regardless
        trainFraction = 0.5)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          round(col("sim"), 6).as("sim"), col("rank").cast("long").as("rank"))
    }),

    "q_pq_topk" -> ((s, d) => {
      // product-quantized ADC top-k (Pq.scala): approximate by
      // construction, so the oracle is the planted-invariant frame —
      // 10 perturbed copies of corpus vectors (cosine ≈ 0.9999) must
      // find their source at rank 1 (>= 9/10 tolerated: quantization
      // is an empirical dial, the floor is the contract), ranks dense,
      // ADC scores non-increasing in rank
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val queries = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x + lit(0.001)).as("v"))
      val top = graft.similarity.Pq.pqTopK(emb, queries, "vec_id", "v",
        k = 5, m = 8, nCentroids = 64)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy("rank")
      top.withColumn("next_score", lead(col("score"), 1).over(w))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("query_id"), col("rank")).as("n_qr"),
          (sum(when(col("rank") === 1 &&
              col("corpus_id") === col("query_id") - 1000000L, 1L)
            .otherwise(0L)) >= 9L).as("planted_ok"),
          (sum(when(col("next_score").isNotNull &&
              col("next_score") > col("score") + 1e-9, 1L)
            .otherwise(0L)) === 0L).as("order_ok"))
    }),

    "q_ivf_pq_topk" -> ((s, d) => {
      // the composed 100 TB ANN shape: IVF routing (nprobe of nlist
      // cells) + PQ codes (8 B/vector) — same planted-invariant frame
      // as q_pq_topk, now ALSO crossing the router (the perturbed
      // query must probe into its source's cell)
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val queries = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x + lit(0.001)).as("v"))
      val top = graft.similarity.Pq.ivfPqTopK(emb, queries, "vec_id", "v",
        k = 5, nlist = 16, nprobe = 4, m = 8, nCentroids = 64)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy("rank")
      top.withColumn("next_score", lead(col("score"), 1).over(w))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("query_id"), col("rank")).as("n_qr"),
          (sum(when(col("rank") === 1 &&
              col("corpus_id") === col("query_id") - 1000000L, 1L)
            .otherwise(0L)) >= 9L).as("planted_ok"),
          (sum(when(col("next_score").isNotNull &&
              col("next_score") > col("score") + 1e-9, 1L)
            .otherwise(0L)) === 0L).as("order_ok"))
    }),

    "q_ann_persist" -> ((s, d) => {
      // train-once/serve-many: the IVF-PQ artifacts round-trip parquet
      // (AnnIndex) and the search served from the LOADED index must be
      // bit-identical to the freshly-trained one under the same seed
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val queries = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x + lit(0.001)).as("v"))
      val (centers, codebooks) = graft.similarity.Pq.trainIvfPq(
        emb, "vec_id", "v", nlist = 16, m = 8, nCentroids = 64)
      val root = java.nio.file.Files
        .createTempDirectory("graft_ann_index").toString
      graft.similarity.AnnIndex.save(s, centers, codebooks, root)
      val (lc, lcb) = graft.similarity.AnnIndex.load(s, root)
      val fresh = graft.similarity.Pq.ivfPqTopKFromArtifacts(
        emb, queries, "vec_id", "v", k = 5, centers = centers,
        codebooks = codebooks, nprobe = 4)
      val loaded = graft.similarity.Pq.ivfPqTopKFromArtifacts(
        emb, queries, "vec_id", "v", k = 5, centers = lc,
        codebooks = lcb, nprobe = 4)
      val centersOk = lc.length == centers.length &&
        lc.zip(centers).forall { case (a, b) => a.sameElements(b) }
      val cbOk = lcb.length == codebooks.length &&
        lcb.zip(codebooks).forall { case (a, b) =>
          a.length == b.length &&
            a.zip(b).forall { case (x, y) => x.sameElements(y) } }
      val diffs = loaded.except(fresh).count() + fresh.except(loaded).count()
      loaded.agg(
        count(lit(1)).as("n_rows"),
        lit(diffs == 0).as("results_identical"),
        lit(centersOk).as("centers_roundtrip"),
        lit(cbOk).as("codebooks_roundtrip"))
    }),

    "q_ann_index_scan" -> ((s, d) => {
      // the FULLY materialised index: artifacts + cell-partitioned
      // encoded corpus persisted once; serving reads only the probed
      // cells' code files (static cell IN (...) partition filter) and
      // must be bit-identical to the fresh from-artifacts search
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val queries = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x + lit(0.001)).as("v"))
      val (centers, codebooks) = graft.similarity.Pq.trainIvfPq(
        emb, "vec_id", "v", nlist = 16, m = 8, nCentroids = 64)
      val root = java.nio.file.Files
        .createTempDirectory("graft_ann_encoded").toString
      graft.similarity.AnnIndex.save(s, centers, codebooks, root)
      graft.similarity.AnnIndex.saveEncodedCorpus(
        emb, "vec_id", "v", centers, codebooks, root)
      val served = graft.similarity.AnnIndex.searchEncodedCorpus(
        s, root, queries, "vec_id", "v", k = 5, nprobe = 4)
      val fresh = graft.similarity.Pq.ivfPqTopKFromArtifacts(
        emb, queries, "vec_id", "v", k = 5, centers = centers,
        codebooks = codebooks, nprobe = 4)
      val pf = served.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
      val pruned = pf.contains("cell#") &&
        (pf.contains(" IN ") || pf.contains("INSET"))
      val diffs = served.except(fresh).count() + fresh.except(served).count()
      served.agg(
        count(lit(1)).as("n_rows"),
        lit(diffs == 0).as("results_identical"),
        lit(pruned).as("scan_pruned"))
    }),

    "q_ann_recall" -> ((s, d) => {
      // the ANN family's evaluation operator, itself behind the
      // oracle: recall@5 of the PQ path vs exact brute force on 50
      // perturbed-copy queries. Every stage is deterministic —
      // hash-ordered bounded train sample, seeded Lloyd, fixed-order
      // ADC sums, (−sim, corpusId) tie-break in TopKAggregator — so
      // the measured recall is a constant of (corpus, seed), pinned
      // like q_lsh_cosine's planted count. SCALE.md `ann_recall` holds
      // the full dial table (m/k/nprobe) at sf0.1.
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val queries = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x + lit(0.001)).as("v"))
      val exact = graft.similarity.Similarity
        .bruteForceTopK(emb, queries, "vec_id", "v", 5)
      val pq = graft.similarity.Pq.pqTopK(emb, queries, "vec_id", "v",
        5, m = 8, nCentroids = 64)
      graft.similarity.Similarity.recallAtK(pq, exact, 5)
    }),

    "q_lsh_cosine" -> ((s, d) => {
      // candidate generation is recall < 1 by design, so no exact pair
      // oracle; instead 20 planted near-identical vectors (cos ≈ 0.9999)
      // give a ground-truth recall floor, and the precision invariants
      // (sim ≥ threshold post-verification, ordering, distinctness) are
      // all checkable without engine hashing
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val aug = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x + lit(0.01)).as("v"))
      Similarity.lshCosineCandidates(emb.unionByName(aug), "vec_id", "v",
        dim = 64, numPlanes = 8, numTables = 4, threshold = 0.3)
        .agg(
          sum(when(col("sim") < 0.3, 1L).otherwise(0L)).as("n_below_threshold"),
          sum(when(col("id_a") >= col("id_b"), 1L).otherwise(0L)).as("n_bad_order"),
          (count(lit(1)) - countDistinct(col("id_a"), col("id_b"))).as("n_dup_pairs"),
          sum(when(col("id_b") === col("id_a") + 1000000L && col("id_a") < 20, 1L)
            .otherwise(0L)).as("n_planted_found"))
    }),

    "q_semantic_clusters" -> ((s, d) => {
      // embedding-space dedup: perturbed copies of the first 20 vectors
      // (deterministic +0.01 shift, cosine ≈ 0.9999 with the source)
      // must cluster with their originals; everything else is singleton
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val aug = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x + lit(0.01)).as("v"))
      Similarity.semanticDupClusters(
        emb.unionByName(aug), "vec_id", "v", threshold = 0.95)
    }),

    // ------------------------------------------------- multimodal
    "q_media_table" -> ((s, d) =>
      Multimodal.syntheticMediaTable(t(s, d, "documents"), "doc_id", "text")
        .select(col("media_id"), col("media_type"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.duration_ms").as("duration_ms"))),

    "q_extract_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.syntheticMediaTable(t(s, d, "documents"), "doc_id", "text"))
        .select(col("media_id"), col("byte_len").cast("long").as("byte_len"))),

    "q_sample_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.syntheticMediaTable(t(s, d, "documents"), "doc_id", "text"), stride = 64)),

    // Real ImageIO decode: generated PNG payloads round-trip through
    // encode → decode → pixel stats; the oracle recomputes the stats in
    // closed form from the id (solid-colour fixture contract).
    "q_image_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.syntheticImageTable(t(s, d, "documents"), "doc_id"))
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).cast("double").as("mean_r"),
          element_at(col("features"), 4).cast("double").as("mean_g"),
          element_at(col("features"), 5).cast("double").as("mean_b"))),

    // Perceptual image dedup over REAL decoded pixels: patterned PNGs
    // (one per doc id, diverse dHashes), exact copies planted at
    // id+1000000 for ids < 50. Everything is deterministic (decode →
    // dHash → banded pairing has no RNG), so the invariant frame pins
    // constants: every plant found at hamming 0, zero false pairs
    // among the 200 distinct patterns at radius 3.
    // Real javax.sound WAV decode: square-wave fixtures round-trip
    // encode → decode → frame/RMS stats; oracle recomputes them in
    // closed form from the id (a ±A square wave has RMS exactly A).
    "q_audio_features" -> ((s, d) =>
      Multimodal.extractAudioFeatures(
        Multimodal.syntheticAudioTable(t(s, d, "documents"), "doc_id"))
        .select(col("media_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          round(col("rms"), 6).as("rms"))),

    "q_image_dedup" -> ((s, d) => {
      import s.implicits._
      val ids = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .filter(col("doc_id") < 200)
      val base = Multimodal.syntheticPatternTable(ids, "doc_id")
      val dups = base.filter(col("media_id") < 50)
        .withColumn("media_id", col("media_id") + 1000000L)
      val pairs = Multimodal.imageNearDuplicates(
        base.unionByName(dups), maxHamming = 3)
      val agg = pairs.agg(
        count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("id_b") - col("id_a") === 1000000L &&
          col("hamming") === 0, 1L).otherwise(0L)), lit(0L)).as("n_planted_found"),
        coalesce(max(col("hamming")), lit(-1)).as("max_hamming"))
      agg.select(col("n_pairs"), col("n_planted_found"),
        col("max_hamming").cast("long").as("max_hamming"))
    }),

    "q_audio_dedup" -> ((s, d) => {
      // the audio mirror of q_image_dedup: 200 distinct energy-envelope
      // patterns + 50 planted exact copies; every plant must pair at
      // hamming 0 and no distinct patterns may pair within radius 3
      val ids = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .filter(col("doc_id") < 200)
      val base = Multimodal.syntheticAudioPatternTable(ids, "doc_id")
      val dups = base.filter(col("media_id") < 50)
        .withColumn("media_id", col("media_id") + 1000000L)
      val pairs = Multimodal.audioNearDuplicates(
        base.unionByName(dups), maxHamming = 3)
      pairs.agg(
        count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("id_b") - col("id_a") === 1000000L &&
          col("hamming") === 0, 1L).otherwise(0L)), lit(0L)).as("n_planted_found"),
        coalesce(max(col("hamming")), lit(-1)).cast("long").as("max_hamming"))
    }),

    "q_vad_segments" -> ((s, d) => {
      // energy-based voice-activity segmentation over REAL decoded
      // WAVs: the fixture's frame-aligned bursts are recovered exactly
      // (10 ms frames, silence at 0, speech at amplitude >= 1000), so
      // the oracle recomputes the full segment table in closed form
      Multimodal.vadSegments(
        Multimodal.syntheticSpeechTable(t(s, d, "documents"), "doc_id"))
    }),

    "q_vad_profile" -> ((s, d) => {
      // the curation grain of VAD: per-recording segment count, speech
      // frames, and total frames (speech ratio = speech/total)
      Multimodal.vadProfile(
        Multimodal.syntheticSpeechTable(t(s, d, "documents"), "doc_id"))
    }),

    "q_aspect_buckets" -> ((s, d) => {
      // aspect-bucketed batch organisation over REAL decoded geometry:
      // each PNG snaps to the closest ladder ratio by the exact
      // integer cross-multiplication rule (no float log in the argmin)
      val ids = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .filter(col("doc_id") < 500)
      val media = Multimodal.syntheticImageTable(ids, "doc_id")
      Multimodal.assignAspectBuckets(
        media, Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16)))
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("bucket_w").cast("long").as("bucket_w"),
          col("bucket_h").cast("long").as("bucket_h"))
    }),

    "q_aspect_batches" -> ((s, d) => {
      // batch economics per bucket at batchSize 32: full batches +
      // leftover images a bucket-wise loader drops or pads
      val ids = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .filter(col("doc_id") < 500)
      val assigned = Multimodal.assignAspectBuckets(
        Multimodal.syntheticImageTable(ids, "doc_id"),
        Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16)))
      Multimodal.aspectBucketBatches(assigned, batchSize = 32)
        .select(col("bucket_w").cast("long").as("bucket_w"),
          col("bucket_h").cast("long").as("bucket_h"),
          col("n_images"), col("n_batches"), col("n_leftover"))
    }),

    // Real resize: bilinear rescale + PNG re-encode, then decode AGAIN
    // and verify geometry and (solid-colour-invariant) channel means.
    "q_resize_images" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.resizeImages(
          Multimodal.syntheticImageTable(t(s, d, "documents"), "doc_id"), 8, 6))
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).cast("double").as("mean_r"),
          element_at(col("features"), 4).cast("double").as("mean_g"),
          element_at(col("features"), 5).cast("double").as("mean_b"))),

    // ------------------------------------------ streaming (batch mode)
    "q_tumbling" -> ((s, d) =>
      Streaming.tumblingAgg(eventsDf(s, d), "ts", "event_type", "1 hour")
        .select(col("window_start").cast("long").as("window_start"),
          col("window_end").cast("long").as("window_end"),
          col("event_type"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))),

    "q_stream_distinct" -> ((s, d) => {
      // windowed HLL distinct (distinct users per hour per type) at
      // O(sketch) state — estimates are partial-merge-shape-dependent
      // within HLL error, so the oracle pins the CONTRACT: window set
      // complete + every estimate within 5·RSE of exact
      val ev = eventsDf(s, d)
      val approx = Streaming.windowedDistinctCounts(
        ev, "ts", "event_type", "user_id", "1 hour", lgK = 12)
      val exact = ev
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("exact_distinct"))
      val rse = 1.04 / math.sqrt(1 << 12)
      approx.join(exact, Seq("window_start", "event_type"), "full_outer")
        .agg(
          count(lit(1)).as("n_windows"),
          (sum(when(col("approx_distinct").isNull ||
            col("exact_distinct").isNull, 1L).otherwise(0L)) === 0L)
            .as("windows_complete"),
          (max(abs(col("approx_distinct") - col("exact_distinct")) /
            greatest(col("exact_distinct").cast("double"), lit(1.0))) <=
            lit(5.0 * rse)).as("within_error"))
    }),

    "q_sliding" -> ((s, d) =>
      Streaming.slidingAgg(eventsDf(s, d), "ts", "event_type", "1 hour", "30 minutes")
        .select(col("window_start").cast("long").as("window_start"),
          col("window_end").cast("long").as("window_end"),
          col("event_type"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))),

    "q_session" -> ((s, d) =>
      Streaming.sessionAgg(eventsDf(s, d), "ts", "event_type", "30 minutes")
        .select(col("session_start").cast("long").as("session_start"),
          col("session_end").cast("long").as("session_end"),
          col("event_type"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))),

    "q_stream_exec" -> ((s, d) => {
      // ACTUAL Structured Streaming execution (not batch-mode reuse):
      // watermarked parquet stream → tumbling agg → AvailableNow into a
      // memory sink; oracle identical to the batch tumbling window.
      // Streams the SOURCE file directly (schema from a footer read) and
      // normalises ts in-stream — rewriting the table into a scratch
      // dir first would double the query's IO for no coverage.
      val rawSchema = t(s, d, "events").schema
      // the source is a single file and the streaming file source wants
      // a directory: stream the parent dir with a glob filter
      val rawStream = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
      val converted = DataFrameOps.normalizeEventTs(rawStream)
      val agg = Streaming.tumblingAgg(
        converted.withWatermark("ts", "1 hour"), "ts", "event_type", "1 hour")
      Streaming.runStreamToMemory(s, agg, "graft_verify_stream")
        .select(col("window_start").cast("long").as("window_start"),
          col("window_end").cast("long").as("window_end"),
          col("event_type"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))
    }),

    "q_stream_decontaminate" -> ((s, d) => {
      // ACTUAL streaming decontamination: documents streamed from the
      // source file, plants applied via a stream-static left join, then
      // the stateless bloom + exact-sorted-set filter. Output is the
      // clean doc set — identical to batch decontaminate, so the exact
      // q_decontaminate oracle applies verbatim.
      val batchDocs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val evalDf = batchDocs.filter(col("doc_id") < 100)
      val evalTexts = evalDf
        .select((col("doc_id") + 100L).as("doc_id"), col("text").as("etext"))
      val rawSchema = t(s, d, "documents").schema
      val docsStream = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .filter(col("doc_id") >= 100)
        .join(evalTexts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") < 110 && col("etext").isNotNull,
            concat(col("text"), lit(" "), col("etext")))
            .otherwise(col("text")).as("text"))
      val clean = Streaming.decontaminateStream(
        docsStream, evalDf, "text", n = 5, minHits = 1)
      Streaming.runStreamToMemory(s, clean, "graft_stream_decon", outputMode = "append")
        .select(col("doc_id"))
    }),

    "q_stream_quality" -> ((s, d) => {
      // streaming curation gate: the stateless entropy kernel runs
      // unchanged in a real AvailableNow stream (zero state, no
      // watermark), so the batch predicate is the exact oracle
      val rawSchema = t(s, d, "documents").schema
      val docsStream = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val gated = Streaming.curationGateStream(docsStream, "text",
        minTokenEntropy = 4.0)
      Streaming.runStreamToMemory(s, gated, "graft_stream_quality",
        outputMode = "append")
        .select(col("doc_id"))
    }),

    "q_stream_dedup" -> ((s, d) => {
      // streaming SimHash near-dup dedup, batch-equivalence path (same
      // state function in batch and stream — StatefulStreamingSpec
      // proves cross-micro-batch state). Docs shard by the
      // fingerprint's top 16-bit block (the single-probe rung: any
      // near-dup pair agreeing on that block is guaranteed detected);
      // 50 exact copies planted so guaranteed drops are exercised.
      // First-ARRIVAL wins (not lowest-id), and batch group iteration
      // order is engine-chosen, so the oracle checks the
      // order-independent invariants: survivors of a shard are
      // pairwise > maxHamming apart, every dropped doc is within
      // maxHamming of a survivor of its shard (only emitted docs enter
      // state), at least the 50 planted collisions dropped, and
      // survivors + dropped = corpus.
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(copies)
        .repartition(s.sparkContext.defaultParallelism)
      // shared fingerprint+shard construction (one kernel pass), then
      // fence the kernel: fps feeds the dedup AND the invariant joins
      // (dropped anti-join, coverage join) — un-checkpointed, each
      // consumer would re-run tokenize+hash over the corpus
      val fps = Streaming.shardedFingerprints(corpus, "doc_id")
        .toDF().localCheckpoint(true)
      import s.implicits._
      // survivor choice depends on arrival order: pin ONE outcome for
      // the three downstream joins (localCheckpoint materializes
      // eagerly; a lazy fence would recompute per join)
      val kept = Streaming.nearDedupStream(fps.as[Streaming.SimDoc], maxHamming = 3)
        .toDF().select("key", "id", "sim").localCheckpoint(true)
      streamDedupInvariants(fps.select("key", "id", "sim"), kept, corpus, 3)
    }),

    "q_stream_dedup_evtime" -> ((s, d) => {
      // event-time WINDOW variant of q_stream_dedup
      // (Streaming.nearDedupStreamEventTime, batch-equivalence path):
      // suppression is scoped to a 60-minute event-time window, so
      // same-fingerprint docs > ttl apart legitimately coexist. The
      // derived event time is a pure function of the PRE-offset id
      // ((id % 1e6) % 360 minutes), so each planted copy shares its
      // original's timestamp — Δt = 0, always in-window, guaranteeing
      // the 50 planted drops — while the 360-minute id spread puts
      // same-shard docs on BOTH sides of the window boundary. The
      // oracle checks the window-scoped order-independent invariants
      // (streamDedupWindowInvariants).
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(copies)
        .repartition(s.sparkContext.defaultParallelism)
      val ttlMs = 60L * 60_000L
      val fps = Streaming.shardedFingerprints(corpus, "doc_id").toDF()
        .withColumn("ts", evtimeDerivedMs)
        .localCheckpoint(true) // one kernel pass, pinned for all consumers
      import s.implicits._
      val timedDocs = fps.select(col("key"), col("id"), col("sim"),
          timestamp_millis(col("ts")).as("eventTime"), col("payload"))
        .as[Streaming.TimedSimDoc]
      val kept = Streaming.nearDedupStreamEventTime(
          timedDocs, maxHamming = 3, ttlMs = ttlMs)
        .toDF().select(col("key"), col("id"), col("sim"),
          unix_millis(col("eventTime")).as("ts"))
        .localCheckpoint(true) // pin the order-dependent survivor choice
      streamDedupWindowInvariants(
          fps.select("key", "id", "sim", "ts"), kept, corpus, 3, ttlMs)
        // the late-drop contract is streaming-only — proven by a real
        // watermarked run, pinned through the oracle (n_late_emitted=0)
        .crossJoin(evtimeLateProbe(s))
    }),

    "q_stream_dedup_fullrecall" -> ((s, d) => {
      // FULL-RECALL streaming near-dup dedup
      // (Streaming.nearDedupStreamFullRecall): batch-equivalence path
      // calling the EXACT foreachBatch body
      // (appendBatchToFullRecallStore) over two micro-batches and a
      // real parquet survivors store. Two plant families over the
      // documents fingerprints:
      //   ids +1e6: 50 exact copies of docs 0-49 (h = 0);
      //   ids +2e6: 50 near-dups of docs 50-99 under
      //     crossBlockPlantMask — h <= 3 flips all inside the TOP
      //     16-bit block, the pairs the single-band rung
      //     (q_stream_dedup) shards apart and structurally misses.
      // Batch 0 carries the originals, batch 1 the exact copies,
      // batch 2 the cross-block near-dups, so every planted drop must
      // cross micro-batches THROUGH THE STORE — and between batches 1
      // and 2 the store is COMPACTED (batch 0's partition folded into
      // batch 1's, the committed-bound maintenance op), so batch 2's
      // suppression-by-a-folded-survivor puts compaction itself behind
      // this oracle, not just behind StatefulStreamingSpec.
      // Invariants (batch-boundary- and order-independent): survivors
      // pairwise > maxHamming (banded pairing — recall contract pinned
      // by DedupSpec's planted exact distances, independent of the
      // store logic under test), every drop inside the within-h
      // closure of a survivor (duplicateClusters over the full-corpus
      // pair graph), ZERO survivors of either plant family, and
      // conservation.
      // corpus capped at 1,000 docs (a no-op at sf0.01, where the
      // correctness oracle runs over everything): the invariants are
      // corpus-size-independent constants and the multi-batch store
      // machinery under test is per-batch-fixed-cost — sf0.1's full
      // 5,000 docs only inflated suite wall (r16 verdict item 7). The
      // raw baseline carries the SAME cap, so the pair stays fair.
      val fps0 = Streaming.shardedFingerprints(
          t(s, d, "documents")
            .select(col("doc_id").cast("long").as("doc_id"), col("text"))
            .filter(col("doc_id") < 1000),
          "doc_id")
        .toDF().select("id", "sim").localCheckpoint(true) // one kernel pass
      val copies = fps0.filter(col("id") < 50)
        .select((col("id") + 1000000L).as("id"), col("sim"))
      val nearDups = fps0.filter(col("id") >= 50 && col("id") < 100)
        .select((col("id") + 2000000L).as("id"),
          col("sim").bitwiseXOR(crossBlockPlantMask).as("sim"))
      val all = fps0.unionByName(copies).unionByName(nearDups)
        .localCheckpoint(true) // pin ONE corpus for store run + invariants
      val store = java.nio.file.Files
        .createTempDirectory("graft_fullrecall_q").toString + "/store"
      Streaming.appendBatchToFullRecallStore(
        all.filter(col("id") < 1000000L), store, 0L, maxHamming = 3)
      Streaming.appendBatchToFullRecallStore(
        all.filter(col("id") >= 1000000L && col("id") < 2000000L),
        store, 1L, maxHamming = 3)
      Streaming.compactFullRecallStore(s, store, 1L)
      Streaming.appendBatchToFullRecallStore(
        all.filter(col("id") >= 2000000L), store, 2L, maxHamming = 3)
      // no checkpoint fence on kept: the parquet store IS the
      // materialisation, and its read is deterministic across the
      // invariant joins
      val kept = Streaming.readFullRecallStore(s, store).select("id", "sim")
      fullRecallInvariants(all, kept)
    }),

    "q_json_props" -> ((s, d) =>
      // semi-structured column handling: JSON-path extraction on the
      // events props payload (oracled via regexp so the DuckDB side
      // needs no JSON extension)
      eventsDf(s, d)
        .select(col("event_id").cast("long").as("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))),

    "q_asof_join" -> ((s, d) => {
      // each event picks the most recent hourly aggregate of its type
      val ev = eventsDf(s, d)
      val hourly = Streaming.tumblingAgg(ev, "ts", "event_type", "1 hour")
        .select(col("event_type"), col("window_start").as("ts"),
          round(col("sum_value"), 6).as("hourly_sum"))
      operators.AsOfJoin.asOfJoin(
        ev.select(col("event_id").cast("long").as("event_id"),
          col("event_type"), col("ts")),
        hourly, Seq("event_type"), "ts", Seq("hourly_sum"))
        .select(col("event_id"), col("event_type"), col("hourly_sum"))
    }),

    "q_salted_join" -> ((s, d) => {
      // skew-safe salted join must return EXACTLY the plain-join result.
      // The right side here is small and un-hinted, so this exercises
      // the operator's broadcast short-circuit: salting a broadcast
      // join has no reduce side to balance, so saltedJoin defers to the
      // plain join (forcing the salted path on this corpus measures ~2×
      // for zero benefit — 0.54 vs 0.29 s warm, SCALE.md "two-point
      // scale growth, round-8 additions").
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("l_quantity"))
      val ord = t(s, d, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"), col("o_totalprice"))
        .withColumnRenamed("o_orderkey", "l_orderkey")
      DataFrameOps.saltedJoin(li, ord, Seq("l_orderkey"), saltFactor = 4)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("o_totalprice"))
    }),

    "q_salted_join_skew" -> ((s, d) => {
      // the scenario salting exists for: ~90% of an inflated (×10) left
      // side collapsed onto ONE hot key, right side pinned to the
      // shuffle path (standing in for a right side too big to
      // broadcast). Aggregated to a bucketed profile so the oracle
      // stays small while the full join still runs. The bench raw
      // baseline runs the plain un-salted join on the SAME corpus, so
      // the ratio measures what salting buys under real skew.
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("ok"), col("l_quantity"))
        .withColumn("rep", explode(sequence(lit(0), lit(9))))
        .withColumn("k",
          when(pmod(col("ok"), lit(100)) < 90, lit(1L)).otherwise(col("ok")))
        .select("k", "l_quantity")
      val ord = t(s, d, "orders")
        .select(col("o_orderkey").cast("long").as("k"), col("o_totalprice"))
      DataFrameOps.saltedJoin(li, ord.hint("merge"), Seq("k"), saltFactor = 32)
        .groupBy((col("k") % 100).as("k_bucket"))
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),

    // --------------------------------------------- TPC-H classics
    "q_tpch_q1" -> ((s, d) =>
      // pricing summary: one scan, map-side partial aggregation
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    "q_tpch_q3" -> ((s, d) => {
      // shipping priority: two fact joins, top-10 revenue
      val cust = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") < lit("1996-03-15").cast("timestamp"))
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1996-03-15").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue"),
          // TIMESTAMP_NTZ has no direct long cast; session TZ is UTC so
          // the intermediate timestamp cast is epoch-identical
          col("o_orderdate").cast("timestamp").cast("long").as("o_orderdate"))
    }),

    "q_tpch_q5" -> ((s, d) => {
      // local-supplier volume: dims broadcast, facts shuffle once each
      val region = t(s, d, "region").filter(col("r_name") === "EUROPE")
      val nation = t(s, d, "nation")
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      val supplier = t(s, d, "supplier")
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      t(s, d, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    }),

    "q_stream_join" -> ((s, d) => {
      // stream-stream-join shape run in batch mode (same logical plan):
      // each event joins its type's hourly aggregates from the last hour
      val ev = eventsDf(s, d)
      val hourly = Streaming.tumblingAgg(ev, "ts", "event_type", "1 hour")
        .select(col("event_type"), col("window_start").as("hts"),
          round(col("sum_value"), 6).as("hourly_sum"))
      Streaming.streamStreamJoin(
        ev.select(col("event_id").cast("long").as("event_id"),
          col("event_type"), col("ts")),
        hourly, "event_type", "ts", "hts", lookbackSeconds = 3600)
        .select(col("event_id"), col("hourly_sum"))
    }),

    "q_asof_forward" -> ((s, d) => {
      // forward direction: each event picks the NEXT hourly aggregate
      val ev = eventsDf(s, d)
      val hourly = Streaming.tumblingAgg(ev, "ts", "event_type", "1 hour")
        .select(col("event_type"), col("window_start").as("ts"),
          round(col("sum_value"), 6).as("hourly_sum"))
      operators.AsOfJoin.asOfJoin(
        ev.select(col("event_id").cast("long").as("event_id"),
          col("event_type"), col("ts")),
        hourly, Seq("event_type"), "ts", Seq("hourly_sum"),
        direction = "forward")
        .select(col("event_id"), col("event_type"), col("hourly_sum"))
    }),

    "q_asof_nearest" -> ((s, d) => {
      // nearest direction: each event picks whichever hourly aggregate
      // (previous or next) is closer in time, ties resolving backward
      val ev = eventsDf(s, d)
      val hourly = Streaming.tumblingAgg(ev, "ts", "event_type", "1 hour")
        .select(col("event_type"), col("window_start").as("ts"),
          round(col("sum_value"), 6).as("hourly_sum"))
      operators.AsOfJoin.asOfJoin(
        ev.select(col("event_id").cast("long").as("event_id"),
          col("event_type"), col("ts")),
        hourly, Seq("event_type"), "ts", Seq("hourly_sum"),
        direction = "nearest")
        .select(col("event_id"), col("event_type"), col("hourly_sum"))
    }),

    "q_runlog" -> ((s, d) => {
      // run-log subsystem end-to-end (timestamps → rows-only check):
      // create tables, reserve id, add entries, read most-recent back
      import s.implicits._
      // lifecycle through the API: dropRunlogTables also clears stale
      // storage a previous JVM left and this session's created-cache
      runlog.RunLog.dropRunlogTables(s, "graft_verify_runlog")
      runlog.RunLog.createRunlogTable(s, "graft_verify_runlog")
      runlog.RunLog.addEntry(s, "first", "verify-pipeline", "1.0", "{}",
        tableName = "graft_verify_runlog")
      runlog.RunLog.addEntry(s, "second", "verify-pipeline", "1.0", "{}",
        tableName = "graft_verify_runlog")
      val last = runlog.RunLog.lastRunId(s, "graft_verify_runlog")
      Seq((last.getOrElse(-1).toLong, s.table("graft_verify_runlog").count()))
        .toDF("last_run_id", "n_entries")
    }),

    "q_pipeline_docs" -> ((s, d) => {
      // end-to-end training-data pipeline: quality gate → language vote
      // → exact dedup → per-language corpus stats
      val docs = t(s, d, "documents")
      val scored = docs
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .withColumn("lang_guess", TextFunctions.langId(col("text"), Seq(
          "db" -> Seq("table", "row", "column"),
          "en" -> Seq("the", "a", "of"),
          "ops" -> Seq("merge", "sort", "scan"))))
        .filter(col("quality") >= 0.5)
      Dedup.exactDedup(scored, "text", "doc_id")
        .groupBy("lang_guess")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("quality"), 6).as("avg_quality"),
          sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"))
    }),

    "q_pipeline_docs128" -> ((s, d) => {
      // end-to-end 128-bit dedup pipeline: fingerprint (real kernel) →
      // banded pairs at the default 8-band rung → dropNearDuplicates.
      // Two planted families, both of which MUST be dropped:
      //  - 50 exact copies at ids >= 1000000 (hamming 0 — every bucket
      //    shared, copy is always the pair's higher id);
      //  - 50 NEAR-dups at ids >= 2000000: the source doc's fingerprint
      //    with (doc_id % 7) + 1 bits flipped — exact Hamming h in
      //    [1, 7], i.e. inside the default rung's recall CONTRACT, so
      //    end-to-end recall (not just exact-copy recall) is what the
      //    zero-survivors assertion pins.
      // Invariant-style oracle — fingerprints are engine-internal, but
      // these outcomes are contractual.
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(copies)
        .repartition(s.sparkContext.defaultParallelism)
      val fps = corpus.select(col("doc_id").as("id"),
          graft.functions.HashFunctions.simHash128Native(
            graft.functions.HashFunctions.tokenHashesNative(
              TextFunctions.normalizedTokens(col("text"))))
            .as("sim"))
        // real materialisation, not a repartition "fence": each
        // consumer's pushed-down filters (near's id<50, banding's
        // projections) make the exchange subtrees non-identical, so
        // physical ReusedExchange fired for only a fraction of the
        // references and the fingerprint kernel re-ran per consumer
        // (65 kernel sites in the executed plan). The (id, sim) frame
        // is 16 B/doc — checkpointing it is free at any corpus size.
        .localCheckpoint(true)
      val near = fps.filter(col("id") < 50)
        .select((col("id") + 2000000L).as("id"),
          array(element_at(col("sim"), 1).bitwiseXOR(neardupPlantMask),
            element_at(col("sim"), 2)).as("sim"))
      val allFps = fps.unionByName(near)
      val pairs = Dedup.simHash128Pairs(allFps, maxHamming = 7)
      val kept = Dedup.dropNearDuplicates(allFps, pairs, "id")
      pipeline128Outcome(kept, allFps)
    }),

    "q_decontaminate" -> ((s, d) => {
      // benchmark-leakage guard: docs < 100 play the eval set, the rest
      // the train corpus; ten train docs get an eval doc's full text
      // appended so guaranteed contamination is exercised alongside
      // whatever 5-gram overlap occurs naturally
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val evalDf = docs.filter(col("doc_id") < 100)
      val evalTexts = evalDf
        .select((col("doc_id") + 100L).as("doc_id"), col("text").as("etext"))
      val train = docs.filter(col("doc_id") >= 100)
        .join(evalTexts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") < 110 && col("etext").isNotNull,
            concat(col("text"), lit(" "), col("etext")))
            .otherwise(col("text")).as("text"))
        // fence: train feeds both the gram pass and the final anti-join;
        // without it the planting join runs twice
        .repartition(s.sparkContext.defaultParallelism)
      Dedup.decontaminate(train, evalDf, "text", "doc_id", n = 5, minHits = 1)
        .select(col("doc_id"))
    }),

    "q_contamination_report" -> ((s, d) => {
      // the audit half of the q_decontaminate frame: WHICH eval docs
      // leaked into WHICH train docs, with shared-gram counts
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val evalDf = docs.filter(col("doc_id") < 100)
      val evalTexts = evalDf
        .select((col("doc_id") + 100L).as("doc_id"), col("text").as("etext"))
      val train = docs.filter(col("doc_id") >= 100)
        .join(evalTexts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") < 110 && col("etext").isNotNull,
            concat(col("text"), lit(" "), col("etext")))
            .otherwise(col("text")).as("text"))
        .repartition(s.sparkContext.defaultParallelism)
      Dedup.contaminationReport(train, evalDf, "text", "doc_id", n = 5, minHits = 1)
    }),

    "q_semantic_decontaminate" -> ((s, d) => {
      // embedding-grain decontamination: eval = perturbed copies of the
      // first 25 vectors (cosine ~0.9999 with their source, <=~0.51
      // with everything else — provable margins around the 0.9
      // threshold); one BroadcastNestedLoopJoin LeftAnti, corpus never
      // shuffles. DuckDB recomputes the exact cosine truth.
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val evalDf = emb.filter(col("vec_id") < 25)
        .select((col("vec_id") + 1000000L).as("eval_id"),
          transform(col("v"), x => x + lit(0.01)).as("v"))
      Dedup.decontaminateSemantic(emb, evalDf, "v", threshold = 0.9)
        .select(col("vec_id"))
    }),

    "q_semantic_contamination" -> ((s, d) => {
      // the audit half at the embedding grain: WHICH eval items are
      // semantically present in WHICH train rows, with the similarity
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val evalDf = emb.filter(col("vec_id") < 25)
        .select((col("vec_id") + 1000000L).as("eval_id"),
          transform(col("v"), x => x + lit(0.01)).as("v"))
      Dedup.semanticContaminationReport(
        emb, evalDf, "v", "vec_id", "eval_id", threshold = 0.9)
        .select(col("vec_id"), col("eval_id"), round(col("sim"), 6).as("sim"))
    }),

    "q_substring_dedup" -> ((s, d) =>
      // sub-document exact span dedup (Lee et al., ACL 2022 shape):
      // duplicated 8-token windows are cut wherever they recur, first
      // occurrence kept — catches verbatim boilerplate document-level
      // MinHash never sees
      dedup.SubstringDedup.dedupSubstrings(
        t(s, d, "documents"), "doc_id", "text", k = 8)),

    "q_substring_profile" -> ((s, d) =>
      dedup.SubstringDedup.substringDupProfile(
        t(s, d, "documents"), "doc_id", "text", k = 8)),

    "q_stream_substring" -> ((s, d) => {
      // streaming span dedup, batch-equivalence path: the EXACT
      // foreachBatch body (appendSubstringBatch) over two id-ordered
      // micro-batches and a real parquet window store — ordered
      // arrival reproduces the batch operator bit-for-bit, so the
      // oracle IS q_substring_dedup's SQL
      // corpus capped at 1,000 docs (no-op at sf0.01 — the oracle SQL
      // carries the same predicate): the per-batch store machinery is
      // fixed-cost and the window explode is row-proportional; the cap
      // trims sf0.1 suite wall without weakening the correctness gate
      // (r16 verdict item 7)
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_sss_q").toString
      Streaming.appendSubstringBatch(docs.filter(col("doc_id") < 250),
        s"$dir/store", s"$dir/out", 0L, "doc_id", "text", k = 8)
      Streaming.appendSubstringBatch(docs.filter(col("doc_id") >= 250),
        s"$dir/store", s"$dir/out", 1L, "doc_id", "text", k = 8)
      s.read.parquet(s"$dir/out")
        .select("doc_id", "text_deduped", "n_tokens", "n_removed")
    }),

    "q_stream_asof" -> ((s, d) => {
      // stream-static as-of enrichment, batch-equivalence path: the
      // EXACT foreachBatch body (asOfEnrichBatch) over two
      // micro-batches against a persisted static right side — each
      // left row's match depends only on that row + the right side,
      // so ordered arrival reproduces the batch operator and the
      // oracle IS q_asof_join's SQL (the spec runs the real stream)
      val ev = eventsDf(s, d)
      val hourly = Streaming.tumblingAgg(ev, "ts", "event_type", "1 hour")
        .select(col("event_type"), col("window_start").as("ts"),
          round(col("sum_value"), 6).as("hourly_sum"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_sasof_q").toString
      hourly.write.mode("overwrite").parquet(s"$dir/right")
      val left = ev.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("ts"))
      Streaming.asOfEnrichBatch(left.filter(col("event_id") % 2 === 0),
        s"$dir/right", s"$dir/out", 0L,
        Seq("event_type"), "ts", Seq("hourly_sum"))
      Streaming.asOfEnrichBatch(left.filter(col("event_id") % 2 =!= 0),
        s"$dir/right", s"$dir/out", 1L,
        Seq("event_type"), "ts", Seq("hourly_sum"))
      s.read.parquet(s"$dir/out")
        .select(col("event_id"), col("event_type"), col("hourly_sum"))
    }),

    "q_substring_dedup_incr" -> ((s, d) => {
      // incremental ingest: docs < 250 are the already-ingested base,
      // the rest arrive as a batch and are span-cleaned against it
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      dedup.SubstringDedup.dedupSubstringsAgainst(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text", k = 8)
    }),

    "q_dedup_lines" -> ((s, d) => {
      // corpus-wide line dedup: the single-line synthetic docs are
      // re-chunked into 8-token lines first, so cross-document duplicate
      // lines exist and survivor reassembly is exercised
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .withColumn("toks", split(col("text"), " "))
        .withColumn("nl",
          greatest(ceil(size(col("toks")) / 8.0).cast("int"), lit(1)))
        .withColumn("mtext", concat_ws("\n",
          transform(sequence(lit(0), col("nl") - 1),
            i => concat_ws(" ", slice(col("toks"), i * 8 + 1, lit(8))))))
        .select(col("doc_id"), col("mtext").as("text"))
      Dedup.dedupLines(docs, "text", "doc_id")
    }),

    "q_repetition" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .withColumn("toks",
          TextFunctions.normalizedTokens(col("text")))
        .select(col("doc_id"),
          round(TextFunctions.dupNgramFrac(col("toks"), 3), 6).as("dup_ngram_frac"),
          round(TextFunctions.topTokenFrac(col("toks")), 6).as("top_token_frac"))),

    // ------------------------------------------- text relevance family
    "q_tfidf" -> ((s, d) =>
      text.Relevance.tfIdf(
        t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text")),
        "doc_id", "text")),

    "q_bm25" -> ((s, d) =>
      text.Relevance.bm25TopK(
        t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text")),
        "doc_id", "text", Seq("dup", "vector", "scan"), k = 20)),

    "q_hybrid_search" -> ((s, d) => {
      // two-retriever RAG shape over the shared doc_id/vec_id space:
      // BM25 lexical top-20 fused (RRF) with cosine top-20 of vec 0
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("doc_id"), col("embedding"))
      val qv = emb.filter(col("doc_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      text.Relevance.hybridTopK(docs, emb, "doc_id", "text", "embedding",
        Seq("dup", "vector", "scan"), qv, k = 10, nPerList = 20)
    }),

    "q_inverted_index" -> ((s, d) =>
      // postings arrays projected through an order-pinned md5 so the
      // full list content is hash-checked through a scalar column
      text.Relevance.invertedIndex(
        t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text")),
        "doc_id", "text", minDf = 30L, maxDfFrac = 0.79)
        .select(col("word"), col("df_docs"),
          md5(concat_ws(",", transform(col("postings"), x => x.cast("string"))))
            .as("postings_md5"))),

    "q_bigram_pmi" -> ((s, d) =>
      text.Relevance.bigramPmi(t(s, d, "documents"), "text", minCount = 20L)),

    "q_chunk" -> ((s, d) =>
      text.Chunker.chunkDocuments(
        t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text")),
        "doc_id", "text", chunkTokens = 16, overlapTokens = 4)),

    "q_fuzzy_join" -> ((s, d) => {
      val a = t(s, d, "part").select(col("p_name").as("name_a")).distinct()
      val b = t(s, d, "part").select(col("p_name").as("name_b")).distinct()
      operators.FuzzyJoin.fuzzyJoin(a, b, "name_a", "name_b", maxDistance = 3)
        .filter(col("name_a") < col("name_b"))
    }),

    "q_gap_fill" -> ((s, d) =>
      operators.TimeSeries.fillGaps(
        eventsDf(s, d), "event_type", "ts", "value", intervalSec = 3600L)),

    "q_scd2" -> ((s, d) =>
      operators.Scd.scdType2(
        t(s, d, "orders").select(col("o_custkey").cast("long").as("o_custkey"),
          col("o_orderdate"), col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus")),
        "o_custkey", Seq("o_orderdate", "o_orderkey"), Seq("o_orderstatus"))),

    "q_rolling" -> ((s, d) =>
      operators.TimeSeries.rollingAgg(
        eventsDf(s, d).withColumn("event_id", col("event_id").cast("long")),
        "event_type", "ts", "value", windowSec = 3600L, extraCols = Seq("event_id"))),

    "q_session_leaders" -> ((s, d) =>
      operators.TimeSeries.sessionLeaders(
        eventsDf(s, d), "user_id", "ts", gapSec = 1800L,
        orderCols = Seq("ts", "event_id"))
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("event_type"))),

    "q_winsorize" -> ((s, d) =>
      core.Stats.winsorize(t(s, d, "lineitem"), Seq("l_returnflag"),
        "l_extendedprice", lowP = 0.05, highP = 0.95)
        .select("l_returnflag", "l_extendedprice", "l_extendedprice_wins")),

    "q_anomaly" -> ((s, d) =>
      core.Stats.zscoreOutliers(eventsDf(s, d), Seq("event_type"), "value")
        .select(col("event_id").cast("long").as("event_id"),
          col("event_type"), col("z"), col("is_outlier"))),

    "q_transitions" -> ((s, d) =>
      operators.EventAnalytics.transitionMatrix(
        eventsDf(s, d), "user_id", "event_type", Seq("ts", "event_id"))
        .select(col("from_state"), col("to_state"), col("n"), col("p"))),

    "q_retention" -> ((s, d) =>
      operators.EventAnalytics.cohortRetention(
        eventsDf(s, d), "user_id", "ts", bucketSec = 604800L)),

    "q_funnel" -> ((s, d) =>
      operators.EventAnalytics.funnel(
        eventsDf(s, d), "user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"))),

    "q_crosstab" -> ((s, d) =>
      core.Profiling.crosstab(
        t(s, d, "events").select((col("user_id") % 10).cast("long").as("user_bucket"),
          col("event_type")),
        "user_bucket", "event_type",
        Seq("click", "error", "purchase", "signup", "view"))),

    "q_histogram" -> ((s, d) =>
      core.Profiling.histogram(t(s, d, "lineitem"), "l_extendedprice", nBins = 20)),

    "q_profile" -> ((s, d) =>
      core.Profiling.profileNumeric(t(s, d, "lineitem"),
        Seq("l_quantity", "l_discount", "l_tax"))),

    "q_assign_ids" -> ((s, d) =>
      operators.Ids.assignContiguousIds(
        t(s, d, "orders").select(col("o_orderkey").cast("long").as("o_orderkey")),
        Seq("o_orderkey"))
        .select("o_orderkey", "row_id")),

    "q_stream_debounce" -> ((s, d) => {
      // the debounce STATE FUNCTION in batch mode (one group call per
      // key == the streaming path with cross-batch carry, proven in
      // DebounceStreamSpec) — behind the same EXACT oracle as
      // q_session_leaders, not an invariant check
      import s.implicits._
      val evs = eventsDf(s, d).select(
        col("user_id").cast("string").as("key"),
        unix_timestamp(col("ts")).as("epochSec"),
        col("event_id").cast("long").as("id"),
        col("event_type").as("payload")).as[Streaming.TimedEvent]
      Streaming.debounceStream(evs, gapSec = 1800L)
        .toDF().select(col("id").as("event_id"),
          col("key").cast("long").as("user_id"),
          col("payload").as("event_type"))
    }),

    "q_expectations" -> ((s, d) => {
      // deequ-style suite: 7 constraints, ONE scan (plan-asserted in
      // ExpectationsSpec); mix of passing and failing rows on purpose
      import checks.Expectations._
      checks.Expectations.run(t(s, d, "lineitem"), Seq(
        ExpectNotNull("l_quantity"),
        ExpectUnique("l_orderkey"),
        ExpectBetween("l_discount", 0.0, 0.1),
        ExpectMatches("l_linestatus", "^[OF]$"),
        ExpectInSet("l_returnflag", Seq("A", "N", "R")),
        ExpectMinRows(1000),
        ExpectMeanBetween("l_quantity", 20.0, 30.0)))
    }),

    "q_drift_cat" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cutoff = to_date(lit("1995-01-01"))
      core.Drift.categoricalDrift(
        orders.filter(col("o_orderdate") < cutoff),
        orders.filter(col("o_orderdate") >= cutoff),
        "o_orderpriority")
    }),

    "q_drift_num" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cutoff = to_date(lit("1995-01-01"))
      core.Drift.numericDrift(
        orders.filter(col("o_orderdate") < cutoff),
        orders.filter(col("o_orderdate") >= cutoff),
        "o_totalprice", lo = 0.0, hi = 600000.0, bins = 8)
    }),

    "q_drift_summary" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cutoff = to_date(lit("1995-01-01"))
      core.Drift.driftSummary(
        orders.filter(col("o_orderdate") < cutoff),
        orders.filter(col("o_orderdate") >= cutoff),
        "o_orderpriority")
    }),

    "q_heavy_hitters" -> ((s, d) => {
      // Misra-Gries behind its own verification harness: the derived
      // item column is deterministic, so the ORACLE computes the true
      // heavy-hitter count exactly while the contract columns
      // (missing/overcount/bound violations) are guaranteed zeros
      val items = t(s, d, "lineitem").select(
        when(col("l_orderkey") % 10 < 3,
          concat(lit("hot_"), col("l_orderkey") % 3))
          .otherwise(concat(lit("cold_"), col("l_orderkey"))).as("item"))
      core.Frequent.checkGuarantee(items, "item", k = 16)
    }),

    "q_snapshot_diff" -> ((s, d) => {
      // both corpus versions derived deterministically from documents,
      // so the full-outer diff has an exact SQL mirror
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val nw = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      operators.Diff.snapshotDiff(docs, nw, "doc_id", Seq("text"))
    }),

    "q_stream_drift" -> ((s, d) => {
      // two-stage drift monitor in batch mode (stage 1 is the SAME
      // single stateful agg the streaming path runs — DriftStreamSpec
      // proves batch ≡ stream on it): ref proportions from the first
      // half of January, per-day PSI over the second half
      val ev = eventsDf(s, d)
      val cutoff = to_timestamp(lit("2024-01-15 00:00:00"))
      val refP = core.Drift.referenceProportions(
        ev.filter(col("ts") < cutoff), "event_type")
      val counts = Streaming.windowedCategoryCounts(
        ev.filter(col("ts") >= cutoff), "ts", "event_type", "1 day")
      core.Drift.driftPerWindow(counts, refP)
        .select(col("window_start").cast("long").as("window_start"),
          col("psi"), col("n_events"))
    }),

    "q_join_cardinality" -> ((s, d) => {
      // pre-flight explosion diagnosis of the classic quadratic case:
      // a self-join on a non-unique key
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("l_orderkey"))
      operators.JoinDiagnostics.joinCardinalityByKey(li, li,
        Seq("l_orderkey"), topN = 20)
    }),

    "q_impute" -> ((s, d) => {
      // nulls planted deterministically so the oracle can mirror them
      val d0 = t(s, d, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderpriority"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")).as("price"))
      core.Stats.imputeNulls(d0, Seq("o_orderpriority"), "price")
        .select(col("o_orderkey"), col("o_orderpriority"), col("price_imputed"))
    }),

    "q_qcut" -> ((s, d) =>
      core.Stats.quantileDiscretize(
        t(s, d, "orders").select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_totalprice")),
        "o_totalprice", numBuckets = 4)
        .select(col("o_orderkey"), col("o_totalprice_bucket").as("bucket"))),

    "q_topk_group" -> ((s, d) =>
      core.Ranking.topKPerGroup(
        t(s, d, "orders").select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice")),
        Seq("o_orderpriority"), "o_totalprice", k = 5,
        tieCol = "o_orderkey", rankCol = "rnk")),

    "q_argmax_group" -> ((s, d) =>
      core.Ranking.argmaxPerGroup(
        t(s, d, "orders").select(col("o_orderpriority"),
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_totalprice"), col("o_orderdate")),
        Seq("o_orderpriority"), "o_totalprice", tieCol = "o_orderkey")),

    "q_pivot_wide" -> ((s, d) =>
      core.DataFrameOps.pivotWide(
        t(s, d, "lineitem").select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity")),
        Seq("l_returnflag"), "l_linestatus", "l_quantity", Seq("F", "O"))
        .select(col("l_returnflag"), round(col("F"), 2).as("qty_f"),
          round(col("O"), 2).as("qty_o"))),

    "q_freq_encode" -> ((s, d) =>
      core.Encode.frequencyEncode(
        t(s, d, "orders").select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority")),
        Seq("o_orderpriority"))),

    "q_target_encode" -> ((s, d) =>
      core.Encode.targetEncode(
        t(s, d, "orders").select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice")),
        "o_orderpriority", "o_totalprice", smoothing = 20.0)),

    "q_hll_merge" -> ((s, d) => {
      // incremental distinct: monthly sketches merged per priority; the
      // merged estimate must sit inside the HLL error bar of the exact
      // count the oracle recomputes
      val base = t(s, d, "orders").select(col("o_orderpriority"),
        col("o_custkey").cast("long").as("o_custkey"),
        date_trunc("month", col("o_orderdate")).as("month"))
      val fine = core.Sketches.hllSketches(base,
        Seq("o_orderpriority", "month"), "o_custkey")
      val merged = core.Sketches.withEstimate(
        core.Sketches.mergeSketches(fine, Seq("o_orderpriority")))
      val exact = base.groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      exact
        .join(merged.select(col("o_orderpriority"), col("approx_distinct")),
          Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_exact"),
          when(abs(col("approx_distinct") - col("n_exact")) /
            col("n_exact") > 0.05, 1L).otherwise(0L).as("rel_err_violation"))
    }),

    "q_stream_hh" -> ((s, d) => {
      // per-window trending items (batch formulation of the streaming
      // MG agg — HeavyHittersStreamSpec replays it as a real stream
      // and pins the estimate contract): derived
      // item column is deterministic, so the oracle recomputes
      // n_events/n_heavy exactly; the violation counters are
      // contractual zeros
      val ev = eventsDf(s, d).select(col("ts"),
        when(col("user_id") % 10 < 3,
          concat(lit("hot_"), col("user_id") % 3))
          .otherwise(concat(lit("cold_"), col("user_id"))).as("item"))
      Streaming.windowedHeavyHittersCheck(ev, "ts", "item", "1 day", k = 16)
        .select(col("window_start").cast("long").as("window_start"),
          col("n_events"), col("n_heavy"), col("n_heavy_missing"),
          col("overcount_violations"), col("bound_violations"))
    }),

    "q_sorted_neighborhood" -> ((s, d) => {
      // rank-adjacency blocking + codegen jw scoring over the pairs
      val p = t(s, d, "part").filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey").cast("long").as("id"), col("p_name"))
      val pairs = operators.Linkage.sortedNeighborhoodPairs(
        p, "id", Seq("p_name", "id"), window = 2)
      val a = p.select(col("id").as("id_a"), col("p_name").as("name_a"))
      val b = p.select(col("id").as("id_b"), col("p_name").as("name_b"))
      pairs.join(a, "id_a").join(b, "id_b")
        .select(col("id_a"), col("id_b"), col("rank_gap"),
          round(functions.StringSimilarity.jaroWinkler(
            col("name_a"), col("name_b")), 9).as("jw"))
    }),

    "q_cdc_apply" -> ((s, d) => {
      // derived changeset: %5 updated (seq 1), %35 then deleted
      // (seq 2 — latest wins over the update), %11 inserted as new
      // keys; the oracle reconstructs the final snapshot directly
      val snap = t(s, d, "orders").select(
        col("o_orderkey").cast("long").as("id"),
        col("o_orderpriority").as("priority"),
        col("o_totalprice").as("price"))
      val upd = snap.filter(col("id") % 5 === 0)
        .select(col("id"), lit("U").as("op"), lit(1L).as("seq"),
          col("priority"), (col("price") + 1000.0).as("price"))
      val del = snap.filter(col("id") % 35 === 0)
        .select(col("id"), lit("D").as("op"), lit(2L).as("seq"),
          col("priority"), col("price"))
      val ins = snap.filter(col("id") % 11 === 0)
        .select((col("id") + 2000000L).as("id"), lit("I").as("op"),
          lit(1L).as("seq"), col("priority"), lit(42.0).as("price"))
      operators.Cdc.applyChangeSet(snap,
        upd.unionByName(del).unionByName(ins), "id")
    }),

    "q_link_records" -> ((s, d) => {
      // entity resolution against a deterministically-dirtied copy
      // (last name-char dropped): every perturbed record must re-link
      // to its source through the blocked weighted-jw score
      val a = t(s, d, "part").filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey").cast("long").as("id"), col("p_name"),
          col("p_type"), substring(col("p_name"), 1, 3).as("blk"))
      val b = a.select((col("id") + 1000000L).as("id"),
        expr("substring(p_name, 1, length(p_name) - 1)").as("p_name"),
        col("p_type"), col("blk"))
      operators.Linkage.linkRecords(a, b, "id", "blk",
        Seq("p_name" -> 0.7, "p_type" -> 0.3), threshold = 0.9)
    }),

    "q_perplexity" -> ((s, d) =>
      text.Relevance.unigramPerplexity(
        t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id"),
          col("text")),
        "doc_id", "text")),

    "q_ks_drift" -> ((s, d) => {
      // exact two-sample KS between two real price distributions; the
      // oracle recomputes the same sup via a window cumsum
      val o = t(s, d, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"))
      core.Drift.ksStatistic(
        o.filter(col("o_orderpriority") === "1-URGENT"),
        o.filter(col("o_orderpriority") === "2-HIGH"),
        "o_totalprice")
    }),

    "q_agg_state" -> ((s, d) => {
      // incremental roll-up: monthly state tables merged to priority,
      // decoded, and cross-checked against the oracle's raw recompute
      val base = t(s, d, "orders").select(col("o_orderpriority"),
        date_trunc("month", col("o_orderdate")).as("month"),
        col("o_totalprice"))
      val daily = core.AggState.build(base,
        Seq("o_orderpriority", "month"), "o_totalprice")
      val fin = core.AggState.finish(
        core.AggState.merge(daily, Seq("o_orderpriority")))
      val exact = base.groupBy("o_orderpriority")
        .agg(countDistinct(col("o_totalprice")).as("nd"))
      fin.join(exact, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"),
          // 2 dp: the ~1e9 sums sit at double's ~1e-7 absolute
          // precision, so 6 dp would hash on summation-order noise
          round(col("sum"), 2).as("sum_v"), col("min").as("min_v"),
          col("max").as("max_v"), col("mean").as("mean_v"),
          when(abs(col("approx_distinct") - col("nd")) / col("nd") > 0.05, 1L)
            .otherwise(0L).as("distinct_violation"))
    }),

    "q_corr_matrix" -> ((s, d) =>
      core.Profiling.corrMatrix(
        t(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    "q_weighted_sample_group" -> ((s, d) =>
      core.Sampling.weightedSamplePerGroup(
        t(s, d, "orders").select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice")),
        "o_orderpriority", "o_totalprice", n = 50, keyCol = "o_orderkey")),

    "q_weighted_sample" -> ((s, d) =>
      core.Sampling.weightedSample(
        t(s, d, "orders").select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_totalprice")),
        "o_totalprice", n = 200, keyCol = "o_orderkey")),

    "q_jaro_sim" -> ((s, d) => {
      // blocked fuzzy self-match: first-3-char blocking keys keep the
      // O(len^2)-per-pair kernel off the cross join; the kernel itself
      // is the native codegen JaroWinklerExpr. The %10 key sample
      // bounds the quadratic-in-block-size pair count so the bench
      // artifact stays scale-honest (TPC-H part names repeat words —
      // 20k parts blocked 3-wide is 60M pairs)
      val p = t(s, d, "part").filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey").cast("long").as("k"),
          col("p_name"), substring(col("p_name"), 1, 3).as("blk"))
      val a = p.select(col("k").as("key_a"), col("p_name").as("name_a"), col("blk"))
      val b = p.select(col("k").as("key_b"), col("p_name").as("name_b"), col("blk"))
      a.join(b, "blk").filter(col("key_a") < col("key_b"))
        .withColumn("jw", functions.StringSimilarity.jaroWinkler(
          col("name_a"), col("name_b")))
        .filter(col("jw") >= 0.93)
        .select(col("key_a"), col("key_b"), round(col("jw"), 9).as("jw"))
    }),

    "q_sessionize" -> ((s, d) =>
      operators.TimeSeries.sessionize(
        eventsDf(s, d), "user_id", "ts", gapSec = 1800L,
        orderCols = Seq("ts", "event_id"))
        .groupBy(col("user_id").cast("long").as("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))),

    "q_scd2_merge" -> ((s, d) => {
      // incremental merge must be indistinguishable from the full
      // rebuild — same oracle SQL as a from-scratch scdType2 over the
      // whole log (the append-only split guarantees the contract)
      val orders = t(s, d, "orders").select(
        col("o_custkey").cast("long").as("o_custkey"), col("o_orderdate"),
        col("o_orderkey").cast("long").as("o_orderkey"), col("o_orderstatus"))
      val old = orders.filter(col("o_orderdate") < "1996-01-01")
      val updates = orders.filter(col("o_orderdate") >= "1996-01-01")
      operators.Scd.scdType2Merge(
        operators.Scd.scdType2(old, "o_custkey",
          Seq("o_orderdate", "o_orderkey"), Seq("o_orderstatus")),
        updates, "o_custkey", Seq("o_orderdate", "o_orderkey"), Seq("o_orderstatus"))
    }),

    "q_zorder" -> ((s, d) => {
      // layout changes row ORDER only — the 2-D filtered read-back must
      // match the plain filter regardless of clustering
      val target = s"$scratch/zorder_tbl"
      io.ZOrder.writeZOrdered(
        t(s, d, "lineitem").select("l_orderkey", "l_extendedprice", "l_quantity"),
        target, Seq("l_extendedprice", "l_quantity"), numFiles = Some(8))
      s.read.parquet(target)
        .filter(col("l_extendedprice") >= 20000 && col("l_extendedprice") < 40000 &&
          col("l_quantity") >= 10 && col("l_quantity") < 20)
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_extendedprice"), col("l_quantity"))
    }),

    // ------------------------------------------ HTML extraction (r14)
    "q_html_strip" -> ((s, d) =>
      htmlDocs(s, d).select(col("doc_id"),
        graft.text.Html.stripHtml(col("html")).as("stripped"))),

    "q_html_extract" -> ((s, d) =>
      graft.text.Html.extract(htmlDocs(s, d), "html")
        .select(col("doc_id"), col("title"), col("link_density"),
          col("text_extracted"))),

    // --------------------------------------- Gopher quality gates (r14)
    "q_gopher_flags" -> ((s, d) =>
      graft.text.QualityRules.gopherFlags(
        t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("text")),
        "text", minStopwords = 1)
        .select(col("doc_id"), col("r_word_count"), col("r_mean_word_len"),
          col("r_symbol_ratio"), col("r_alpha_words"), col("r_bullet_lines"),
          col("r_ellipsis_lines"), col("r_stopwords"), col("gopher_pass"))),

    "q_gopher_report" -> ((s, d) =>
      graft.text.QualityRules.gopherReport(
        t(s, d, "documents").select(col("text")), "text", minStopwords = 1)),

    // ------------------------------- k-anonymity / l-diversity (r14)
    "q_k_anonymity" -> ((s, d) =>
      core.Privacy.kAnonymityReport(
        t(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"), minK = 12)),

    "q_k_suppress" -> ((s, d) =>
      core.Privacy.suppressSmallClasses(
        t(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"), minK = 12)
        .select(col("c_custkey").cast("long").as("c_custkey"))),

    "q_l_diversity" -> ((s, d) =>
      core.Privacy.lDiversityViolations(
        t(s, d, "supplier"), Seq("s_nationkey"), "s_acctbal", minL = 2)
        .select(col("s_suppkey").cast("long").as("s_suppkey"))),

    // -------------------------------------- filter calibration (r14)
    "q_calibration_bins" -> ((s, d) =>
      core.Calibration.reliabilityBins(
        t(s, d, "orders").select(
          ((col("o_orderkey") % 97).cast("double") / 96.0).as("score"),
          (col("o_orderkey") % 3 === 0).cast("int").as("label")),
        "score", "label", nBins = 10)),

    "q_ece" -> ((s, d) =>
      core.Calibration.expectedCalibrationError(
        t(s, d, "orders").select(
          ((col("o_orderkey") % 97).cast("double") / 96.0).as("score"),
          (col("o_orderkey") % 3 === 0).cast("int").as("label")),
        "score", "label", nBins = 10)),

    // ------------------- annotator agreement + model ranking (r14)
    "q_cohen_kappa" -> ((s, d) =>
      core.Preferences.cohenKappa(
        t(s, d, "documents").select(
          concat(lit("l"), (col("doc_id") % 3).cast("string")).as("a"),
          concat(lit("l"), (when(col("doc_id") % 5 === 0, (col("doc_id") + 1) % 3)
            .otherwise(col("doc_id") % 3)).cast("string")).as("b")),
        "a", "b")),

    "q_win_rates" -> ((s, d) =>
      core.Preferences.winRates(btBattles(s, d), "model_a", "model_b", "winner")
        .orderBy("model")),

    "q_bt_scores" -> ((s, d) =>
      core.Preferences.bradleyTerryScores(
        btBattles(s, d), "model_a", "model_b", "winner", iters = 4)
        .orderBy("model")),

    // ------------------------------------- interval-overlap join (r14)
    "q_interval_join" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id").cast("long").as("event_id"), col("value"))
      val left = ev.filter(col("event_id") % 40 === 0)
        .select(col("event_id").as("lid"), (col("value") * 7).as("ls"),
          (col("value") * 7 + 5 + (col("event_id") % 11).cast("double")).as("le"))
      val right = ev.filter(col("event_id") % 40 === 1)
        .select(col("event_id").as("rid"), (col("value") * 7).as("rs"),
          (col("value") * 7 + 5 + (col("event_id") % 13).cast("double")).as("re"))
      operators.RangeJoin.intervalJoin(left, "ls", "le", right, "rs", "re",
        binWidth = 10.0)
        .select(col("lid"), col("rid"))
    }),

    // ------------------------- composed web-curation pipeline (r14)
    "q_pipeline_web" -> ((s, d) => {
      // the r14 crawl front door end to end: HTML extraction (strip +
      // title + link-density + boilerplate lines) → link-farm filter →
      // Gopher rule gate over the EXTRACTED text → per-doc token
      // budget. Every stage is a narrow codegen pass; the oracle
      // replays the full chain in SQL. The stageFence pins the stage
      // boundary BELOW the link-farm filter: without it, predicate
      // pushdown sinks the filter under the extract projection,
      // substituting linkDensity's embedded strip chain into the scan
      // predicate — a second full per-row strip that codegen CSE
      // would otherwise share with text_extracted inside the ONE
      // fenced projection (5.8 s unfenced, 3.0 s gate-fenced only,
      // ~1.7 s with both boundaries pinned).
      val ex = DataFrameOps.stageFence(
        graft.text.Html.extract(htmlDocs(s, d), "html")
          .select("doc_id", "link_density", "text_extracted"))
        .filter(col("link_density") <= 0.5)
        .select("doc_id", "text_extracted")
      graft.text.QualityRules.gopherFlags(ex, "text_extracted",
        minStopwords = 1)
        .where(col("gopher_pass"))
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text_extracted")).cast("long")
            .as("n_tok"))
    }),

    // -------------------------------------- feature scaling (r14)
    "q_minmax_scale" -> ((s, d) =>
      core.Stats.minMaxScale(
        t(s, d, "lineitem").select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice")),
        Seq("l_returnflag"), "l_extendedprice")),

    "q_robust_scale" -> ((s, d) =>
      core.Stats.robustScale(
        t(s, d, "lineitem").select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice")),
        Seq("l_returnflag"), "l_extendedprice")),

    // ------------------------ text-free dedup artifact (r14)
    "q_dedup_against_ref" -> ((s, d) => {
      // the q_dedup_against fixture served from a PERSISTED signature
      // artifact: the reference text is never read at serve time, and
      // the survivor set must equal the online path's (same banding,
      // same exact hash-set verification) — one oracle serves both
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val ref = docs.filter(col("doc_id") < 250)
      val fresh = docs.filter(col("doc_id") >= 250)
        .unionByName(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" extra tail token")).as("text")))
      val refPath = s"$scratch/minhash_ref"
      Dedup.saveMinHashRef(ref, "text", "doc_id", refPath)
      Dedup.minHashDedupAgainstRef(fresh, refPath, "text", "doc_id",
        threshold = 0.7)
        .select(col("doc_id"))
    }),

    // --------------------------------- graph operators (r14)
    "q_connected_components" -> ((s, d) => {
      // functional graph x -> x^2+1 mod 499 (4 components on this
      // key range); localMaxEdges = 0 forces the DISTRIBUTED
      // large-star/small-star path so the oracle checks that
      // algorithm, not the driver shortcut
      val e = graphEdges(s, d)
      operators.Graph.connectedComponents(e, "a", "b", localMaxEdges = 0L)
    }),

    "q_component_sizes" -> ((s, d) =>
      operators.Graph.componentSizes(graphEdges(s, d), "a", "b")),

    "q_degrees" -> ((s, d) =>
      operators.Graph.degrees(graphEdges(s, d), "a", "b")),

    "q_cc_incremental" -> ((s, d) => {
      // incremental connected components: a labeling artifact built
      // from 2/3 of the pair graph is extended by the remaining third
      // as a batch — the contraction runs on the touched-LABEL graph,
      // the artifact takes one broadcast relabel pass, and the result
      // must equal the full recompute (same recursive-CTE closure
      // oracle as q_connected_components)
      val e = graphEdges(s, d)
      val artifact = operators.Graph.connectedComponents(
        e.filter(col("a") % 3 =!= 0), "a", "b")
      operators.Graph.connectedComponentsAgainst(
        artifact, e.filter(col("a") % 3 === 0), "a", "b")
    }),

    "q_cc_string_ids" -> ((s, d) => {
      // string/UUID-id entry point: xxhash64 under the hood with a
      // loud collision refusal; labels translate back to the
      // LEXICOGRAPHICALLY smallest member id (byte-wise UTF-8 — the
      // engine-portable representative both engines agree on)
      val e = graphEdges(s, d).select(
        concat(lit("n"), col("a")).as("a"),
        concat(lit("n"), col("b")).as("b"))
      operators.Graph.connectedComponentsStringIds(e, "a", "b")
    }),

    // ------------------------------ keyed pseudonymization (r14)
    "q_pseudonymize" -> ((s, d) =>
      core.Privacy.pseudonymize(
        t(s, d, "customer").select(col("c_custkey").cast("long").as("c_custkey"),
          col("c_name"), col("c_mktsegment")),
        Seq("c_name", "c_mktsegment"), secret = "k14")),

    "q_pipeline_privacy" -> ((s, d) => {
      // release pipeline composed: pseudonymize direct identifiers →
      // suppress sub-k quasi classes → re-audit the released frame
      // (the report must show dataset_k >= minK, zero violations)
      val masked = core.Privacy.pseudonymize(
        t(s, d, "customer").select(col("c_custkey").cast("long").as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_mktsegment")),
        Seq("c_name"), secret = "k14")
      val released = core.Privacy.suppressSmallClasses(
        masked, Seq("c_nationkey", "c_mktsegment"), minK = 12)
      core.Privacy.kAnonymityReport(released,
        Seq("c_nationkey", "c_mktsegment"), minK = 12)
    }),

    // --------------------------- sentence-aligned chunking (r14)
    "q_sentence_chunks" -> ((s, d) => {
      // documents text is punctuation-free, so the fixture plants a
      // '.' after every 7th token (mirrored in SQL via the indexed
      // list lambda) before sentence-boundary chunking at 16 tokens
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val sent = docs.withColumn("stext", concat_ws(" ",
        transform(TextFunctions.tokens(col("text")),
          (tk, i) => when((i + lit(1)) % 7 === 0, concat(tk, lit(".")))
            .otherwise(tk))))
      graft.text.Chunker.chunkBySentences(sent, "doc_id", "stext",
        maxTokens = 16)
        .select(col("doc_id"), col("chunk_id"), col("n_sentences"),
          col("n_tokens"), col("chunk_text"))
    }),

    // ------------------------------ JL random projection (r14)
    "q_random_project" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      graft.similarity.Projection.randomProject(emb, "embedding", "p",
        inDim = 64, outDim = 16, seed = "jl14")
        .select(col("vec_id"), posexplode(col("p")).as(Seq("j", "pv0")))
        .select(col("vec_id"), col("j").cast("long").as("j"),
          round(col("pv0"), 6).as("pv"))
    }),

    // --------------------------------- tokenizer vocab coverage (r14)
    "q_vocab_coverage" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val vocab = graft.text.Subword.buildWordVocab(docs, "text", maxWords = 20)
      graft.text.Subword.vocabCoverage(docs, "doc_id", "text", vocab)
    }),
  )

  // =================================================================
  // Oracles — DuckDB SQL over the same parquet tables. Every query has
  // one. For MinHash/ngram LSH the oracle recomputes the exact all-pairs
  // Jaccard result (the LSH output is post-verified, and its banding
  // recalls every above-threshold pair on this corpus, so the sets are
  // equal). SimHash / hyperplane-LSH / seeded-RNG queries emit their
  // verifiable invariants (precision, ordering, planted-pair recall,
  // bounds) because their internals use engine-specific hashing DuckDB
  // cannot reproduce.
  // =================================================================

  def oracleSql: Map[String, String] = Map(
    "q_random_uniform" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, TRUE AS in_bounds,
        |CAST(count(DISTINCT r_regionkey) AS BIGINT) AS n_keys FROM region""".stripMargin,

    "q_minhash_dedup" ->
      """WITH raw AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 1000000, text || ' extra tail token' FROM documents WHERE doc_id < 50),
        |n AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM raw),
        |tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n WHERE len(t) > 0),
        |sh AS (SELECT doc_id, list_distinct(
        |         CASE WHEN len(toks) >= 3
        |              THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)]
        |              ELSE [array_to_string(toks, ' ')] END) AS grams
        |       FROM tk)
        |SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |  round(CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) / len(list_distinct(l.grams || r.grams)), 6) AS jaccard
        |FROM sh l, sh r
        |WHERE l.doc_id < r.doc_id AND len(l.grams) > 0 AND len(r.grams) > 0
        |  AND CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) / len(list_distinct(l.grams || r.grams)) >= 0.7""".stripMargin,

    "q_dedup_against" -> dedupAgainstOracle,

    "q_dedup_against_ref" -> dedupAgainstOracle,

    "q_pipeline_incremental" ->
      """WITH RECURSIVE docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
        |uni AS (SELECT doc_id, text FROM docs
        |        UNION ALL
        |        SELECT doc_id + 1000000, text || ' extra tail token' FROM docs WHERE doc_id < 50),
        |tk AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |       FROM uni WHERE len(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) > 0),
        |sh AS (SELECT doc_id, list_distinct(
        |         CASE WHEN len(toks) >= 3
        |              THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)]
        |              ELSE [array_to_string(toks, ' ')] END) AS grams FROM tk),
        |p AS (SELECT l.doc_id AS a, r.doc_id AS b FROM sh l, sh r
        |      WHERE l.doc_id < r.doc_id AND len(l.grams) > 0 AND len(r.grams) > 0
        |        AND CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
        |            / len(list_distinct(l.grams || r.grams)) >= 0.7),
        |sym AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |nodes AS (SELECT DISTINCT a AS n FROM sym),
        |reach AS (SELECT n, n AS m FROM nodes
        |          UNION
        |          SELECT sym.b AS n, reach.m FROM reach JOIN sym ON sym.a = reach.n)
        |SELECT n AS id, CAST(min(m) AS BIGINT) AS component
        |FROM reach GROUP BY n""".stripMargin,

    "q_ngram_lsh" ->
      """WITH raw AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 1000000, text || ' extra tail token' FROM documents WHERE doc_id < 50),
        |n AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM raw),
        |g AS (SELECT doc_id, list_distinct(list_filter(
        |        [substr(t, i, 3) FOR i IN range(1, greatest(len(t) - 2, 1) + 1)],
        |        x -> len(x) = 3)) AS grams FROM n)
        |SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |  round(CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) / len(list_distinct(l.grams || r.grams)), 6) AS jaccard
        |FROM g l, g r
        |WHERE l.doc_id < r.doc_id AND len(l.grams) > 0 AND len(r.grams) > 0
        |  AND CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) / len(list_distinct(l.grams || r.grams)) >= 0.8""".stripMargin,

    "q_simhash_dedup" ->
      """SELECT CAST(0 AS BIGINT) AS n_bad_hamming, CAST(0 AS BIGINT) AS n_bad_order,
        |CAST(0 AS BIGINT) AS n_dup_pairs, TRUE AS has_pairs""".stripMargin,

    "q_simhash128" ->
      """SELECT CAST(0 AS BIGINT) AS n_bad_hamming, CAST(0 AS BIGINT) AS n_bad_order,
        |CAST(0 AS BIGINT) AS n_dup_pairs, TRUE AS has_pairs""".stripMargin,

    "q_pipeline_docs128" ->
      """SELECT CAST(0 AS BIGINT) AS n_copy_survivors,
        |CAST(0 AS BIGINT) AS n_neardup_survivors,
        |TRUE AS dropped_all_copies, TRUE AS has_survivors""".stripMargin,

    "q_decontaminate" ->
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
        |ev AS (SELECT doc_id, text FROM docs WHERE doc_id < 100),
        |tr AS (SELECT t.doc_id,
        |         CASE WHEN t.doc_id < 110 AND e.text IS NOT NULL
        |              THEN t.text || ' ' || e.text ELSE t.text END AS text
        |       FROM docs t LEFT JOIN ev e ON e.doc_id = t.doc_id - 100
        |       WHERE t.doc_id >= 100),
        |grams AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 5
        |         THEN [array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)]
        |         ELSE [array_to_string(toks, ' ')] END) AS g
        |  FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks FROM tr)),
        |evg AS (
        |  SELECT list_distinct(flatten(list(g))) AS eg
        |  FROM (SELECT list_distinct(
        |    CASE WHEN len(toks) >= 5
        |         THEN [array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)]
        |         ELSE [array_to_string(toks, ' ')] END) AS g
        |  FROM (SELECT string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks FROM ev)))
        |SELECT grams.doc_id FROM grams, evg
        |WHERE len(list_intersect(grams.g, evg.eg)) < 1""".stripMargin,

    "q_contamination_report" ->
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
        |ev AS (SELECT doc_id, text FROM docs WHERE doc_id < 100),
        |tr AS (SELECT t.doc_id,
        |         CASE WHEN t.doc_id < 110 AND e.text IS NOT NULL
        |              THEN t.text || ' ' || e.text ELSE t.text END AS text
        |       FROM docs t LEFT JOIN ev e ON e.doc_id = t.doc_id - 100
        |       WHERE t.doc_id >= 100),
        |trg AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 5
        |         THEN [array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)]
        |         ELSE [array_to_string(toks, ' ')] END)) AS g
        |  FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks FROM tr)),
        |evg AS (
        |  SELECT doc_id AS eval_id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 5
        |         THEN [array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)]
        |         ELSE [array_to_string(toks, ' ')] END)) AS g
        |  FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks FROM ev))
        |SELECT trg.doc_id, evg.eval_id, count(*) AS n_shared_grams
        |FROM trg JOIN evg ON trg.g = evg.g
        |GROUP BY 1, 2 HAVING count(*) >= 1""".stripMargin,

    "q_semantic_decontaminate" ->
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (SELECT list_transform(v, x -> x + 0.01) AS v
        |       FROM e WHERE vec_id < 25)
        |SELECT vec_id FROM e
        |WHERE NOT EXISTS (SELECT 1 FROM ev
        |  WHERE list_cosine_similarity(e.v, ev.v) >= 0.9)""".stripMargin,

    "q_semantic_contamination" ->
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (SELECT vec_id + 1000000 AS eval_id,
        |    list_transform(v, x -> x + 0.01) AS v
        |  FROM e WHERE vec_id < 25)
        |SELECT e.vec_id, ev.eval_id,
        |  round(list_cosine_similarity(e.v, ev.v), 6) AS sim
        |FROM e, ev WHERE list_cosine_similarity(e.v, ev.v) >= 0.9""".stripMargin,

    "q_stream_substring" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents WHERE doc_id < 1000 AND length(trim(text)) > 0),
        |tok AS (
        |  SELECT doc_id, u.p AS pos, toks[u.p] AS tok
        |  FROM toks, unnest(generate_series(1, len(toks))) AS u(p)),
        |win AS (
        |  SELECT doc_id, u.s AS start, array_to_string(toks[u.s : u.s + 7], ' ') AS w
        |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS u(s)
        |  WHERE len(toks) >= 8),
        |dupocc AS (
        |  SELECT doc_id, start,
        |    row_number() OVER (PARTITION BY w ORDER BY doc_id, start) AS rn,
        |    count(*) OVER (PARTITION BY w) AS cnt
        |  FROM win),
        |removed AS (
        |  SELECT DISTINCT d.doc_id, gs.p AS pos
        |  FROM dupocc d, unnest(generate_series(d.start, d.start + 7)) AS gs(p)
        |  WHERE d.cnt > 1 AND d.rn > 1),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM removed r WHERE r.doc_id = t.doc_id AND r.pos = t.pos)),
        |reb AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_deduped, count(*) AS kept_n
        |  FROM kept GROUP BY doc_id)
        |SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
        |  coalesce(reb.text_deduped, '') AS text_deduped,
        |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - coalesce(reb.kept_n, 0) AS BIGINT) AS n_removed
        |FROM toks t LEFT JOIN reb ON t.doc_id = reb.doc_id""".stripMargin,

    "q_substring_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok AS (
        |  SELECT doc_id, u.p AS pos, toks[u.p] AS tok
        |  FROM toks, unnest(generate_series(1, len(toks))) AS u(p)),
        |win AS (
        |  SELECT doc_id, u.s AS start, array_to_string(toks[u.s : u.s + 7], ' ') AS w
        |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS u(s)
        |  WHERE len(toks) >= 8),
        |dupocc AS (
        |  SELECT doc_id, start,
        |    row_number() OVER (PARTITION BY w ORDER BY doc_id, start) AS rn,
        |    count(*) OVER (PARTITION BY w) AS cnt
        |  FROM win),
        |removed AS (
        |  SELECT DISTINCT d.doc_id, gs.p AS pos
        |  FROM dupocc d, unnest(generate_series(d.start, d.start + 7)) AS gs(p)
        |  WHERE d.cnt > 1 AND d.rn > 1),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM removed r WHERE r.doc_id = t.doc_id AND r.pos = t.pos)),
        |reb AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_deduped, count(*) AS kept_n
        |  FROM kept GROUP BY doc_id)
        |SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
        |  coalesce(reb.text_deduped, '') AS text_deduped,
        |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - coalesce(reb.kept_n, 0) AS BIGINT) AS n_removed
        |FROM toks t LEFT JOIN reb ON t.doc_id = reb.doc_id""".stripMargin,

    "q_substring_dedup_incr" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |nw AS (
        |  SELECT doc_id, u.s AS start, array_to_string(toks[u.s : u.s + 7], ' ') AS w
        |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS u(s)
        |  WHERE len(toks) >= 8 AND doc_id >= 250),
        |bw AS (
        |  SELECT DISTINCT array_to_string(toks[u.s : u.s + 7], ' ') AS w
        |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS u(s)
        |  WHERE len(toks) >= 8 AND doc_id < 250),
        |vs_base AS (
        |  SELECT doc_id, start FROM nw WHERE w IN (SELECT w FROM bw)),
        |dupocc AS (
        |  SELECT doc_id, start,
        |    row_number() OVER (PARTITION BY w ORDER BY doc_id, start) AS rn,
        |    count(*) OVER (PARTITION BY w) AS cnt
        |  FROM nw),
        |in_batch AS (
        |  SELECT doc_id, start FROM dupocc WHERE cnt > 1 AND rn > 1),
        |occ AS (SELECT * FROM vs_base UNION ALL SELECT * FROM in_batch),
        |removed AS (
        |  SELECT DISTINCT occ.doc_id, gs.p AS pos
        |  FROM occ, unnest(generate_series(occ.start, occ.start + 7)) AS gs(p)),
        |tok AS (
        |  SELECT doc_id, u.p AS pos, toks[u.p] AS tok
        |  FROM toks, unnest(generate_series(1, len(toks))) AS u(p)
        |  WHERE doc_id >= 250),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM removed r WHERE r.doc_id = t.doc_id AND r.pos = t.pos)),
        |reb AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_deduped, count(*) AS kept_n
        |  FROM kept GROUP BY doc_id)
        |SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
        |  coalesce(reb.text_deduped, '') AS text_deduped,
        |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - coalesce(reb.kept_n, 0) AS BIGINT) AS n_removed
        |FROM toks t LEFT JOIN reb ON t.doc_id = reb.doc_id
        |WHERE t.doc_id >= 250""".stripMargin,

    "q_substring_profile" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |win AS (
        |  SELECT doc_id, array_to_string(toks[u.s : u.s + 7], ' ') AS w
        |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS u(s)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT w FROM win GROUP BY w HAVING count(*) > 1),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_dup FROM win
        |  WHERE w IN (SELECT w FROM dup) GROUP BY doc_id)
        |SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
        |  CAST(greatest(len(t.toks) - 7, 0) AS BIGINT) AS n_windows,
        |  CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_windows,
        |  CASE WHEN len(t.toks) - 7 <= 0 THEN 0.0
        |       ELSE round(coalesce(p.n_dup, 0) / CAST(len(t.toks) - 7 AS DOUBLE), 6)
        |  END AS dup_fraction
        |FROM toks t LEFT JOIN perdoc p ON t.doc_id = p.doc_id""".stripMargin,

    "q_dedup_lines" ->
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS toks FROM documents),
        |ln AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS line
        |  FROM docs CROSS JOIN UNNEST(range(0, greatest(CAST(ceil(len(toks)/8.0) AS INT), 1))) AS u(i)),
        |kept AS (
        |  SELECT doc_id, pos, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |  FROM ln)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM kept WHERE rn = 1 GROUP BY doc_id""".stripMargin,

    "q_repetition" ->
      """WITH tk AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, toks,
        |    CASE WHEN len(toks) >= 3
        |         THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)]
        |         ELSE [array_to_string(toks, ' ')] END AS grams
        |  FROM tk)
        |SELECT doc_id,
        |  round(1 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) AS dup_ngram_frac,
        |  round(CAST(list_max(list_transform(list_distinct(toks),
        |    y -> len(list_filter(toks, x -> x = y)))) AS DOUBLE) / len(toks), 6) AS top_token_frac
        |FROM sh""".stripMargin,

    "q_lsh_cosine" ->
      """SELECT CAST(0 AS BIGINT) AS n_below_threshold, CAST(0 AS BIGINT) AS n_bad_order,
        |CAST(0 AS BIGINT) AS n_dup_pairs, CAST(20 AS BIGINT) AS n_planted_found""".stripMargin,

    "q_pq_topk" ->
      """SELECT CAST(50 AS BIGINT) AS n_rows, CAST(50 AS BIGINT) AS n_qr,
        |TRUE AS planted_ok, TRUE AS order_ok""".stripMargin,

    "q_ivf_pq_topk" ->
      """SELECT CAST(50 AS BIGINT) AS n_rows, CAST(50 AS BIGINT) AS n_qr,
        |TRUE AS planted_ok, TRUE AS order_ok""".stripMargin,

    "q_ann_persist" ->
      """SELECT CAST(50 AS BIGINT) AS n_rows, TRUE AS results_identical,
        |TRUE AS centers_roundtrip, TRUE AS codebooks_roundtrip""".stripMargin,

    "q_ann_index_scan" ->
      """SELECT CAST(50 AS BIGINT) AS n_rows, TRUE AS results_identical,
        |TRUE AS scan_pruned""".stripMargin,

    "q_ann_recall" ->
      "SELECT CAST(50 AS BIGINT) AS n_queries, CAST(0.472 AS DOUBLE) AS mean_recall",

    "q_melt" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, 'l_quantity' AS variable, l_quantity AS value FROM lineitem
        |UNION ALL SELECT CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT), 'l_discount', l_discount FROM lineitem
        |UNION ALL SELECT CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT), 'l_tax', l_tax FROM lineitem""".stripMargin,

    "q_map_colnames" ->
      "SELECT CAST(r_regionkey AS BIGINT) AS region_key, r_name AS region_name FROM region",

    "q_colname_value_map" ->
      "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name AS name_from_map FROM nation",

    "q_unpack_list" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity AS v FROM lineitem
        |UNION ALL SELECT CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT), l_tax FROM lineitem""".stripMargin,

    "q_rank_numeric" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS BIGINT) AS rnk FROM lineitem""".stripMargin,

    "q_first_obs" ->
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey, CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn FROM orders)
        |WHERE rn = 1""".stripMargin,

    "q_median_price" ->
      "SELECT l_returnflag, quantile_disc(l_quantity, 0.5) AS median_qty FROM lineitem GROUP BY l_returnflag",

    "q_window_running" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate), 6) AS run_total FROM orders""".stripMargin,

    "q_struct_roundtrip" ->
      "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation",

    "q_drop_dups" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey, o_totalprice
        |FROM (SELECT *, rank() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rnk FROM orders)
        |WHERE rnk = 1""".stripMargin,

    "q_cumulative_array" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |l_quantity AS c1, l_quantity + l_discount AS c2, l_quantity + l_discount + l_tax AS c3 FROM lineitem""".stripMargin,

    "q_union_mismatched" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS rk, r_name, CAST(NULL AS VARCHAR) AS n_name FROM region
        |UNION ALL SELECT CAST(n_regionkey AS BIGINT), CAST(NULL AS VARCHAR), n_name FROM nation""".stripMargin,

    "q_sum_columns" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |l_quantity + l_discount + l_tax AS total FROM lineitem""".stripMargin,

    "q_set_nulls" ->
      "SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, NULLIF(NULLIF(o_orderstatus, 'O'), 'F') AS o_orderstatus FROM orders",

    "q_union_multi" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation WHERE n_regionkey = 0
        |UNION ALL SELECT CAST(n_nationkey AS BIGINT), n_name, CAST(n_regionkey AS BIGINT) FROM nation WHERE n_regionkey = 1
        |UNION ALL SELECT CAST(n_nationkey AS BIGINT), n_name, CAST(n_regionkey AS BIGINT) FROM nation WHERE n_regionkey = 2""".stripMargin,

    "q_join_multi" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, r_name, c.n_customers
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |LEFT JOIN (SELECT c_nationkey, count(*) AS n_customers FROM customer GROUP BY c_nationkey) c
        |ON n_nationkey = c.c_nationkey""".stripMargin,

    "q_map_values" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
        |CASE r_name WHEN 'ASIA' THEN 'Asia-Pacific' WHEN 'EUROPE' THEN 'EMEA' ELSE r_name END AS r_name FROM region""".stripMargin,

    "q_filter_out" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus NOT IN ('O') OR o_orderstatus IS NULL""".stripMargin,

    "q_apply_col_func" ->
      "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, upper(n_name) AS n_name FROM nation",

    "q_cut_lineage" ->
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region",

    "q_set_nullable" ->
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region",

    "q_smart_coalesce" ->
      "SELECT count(*) AS n_rows FROM lineitem",

    "q_percentiles" ->
      """SELECT l_returnflag,
        |round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |round(quantile_cont(l_quantity, 0.50), 6) AS p50,
        |round(quantile_cont(l_quantity, 0.75), 6) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_word_freq" ->
      """SELECT word, count(*) AS freq FROM (
        |  SELECT unnest(regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
        |  FROM documents)
        |GROUP BY word ORDER BY freq DESC, word LIMIT 20""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 6) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 6) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_distinct_count" ->
      "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_distinct FROM orders GROUP BY o_orderstatus",

    "q_intersect" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_regionkey <= 2
        |INTERSECT
        |SELECT CAST(n_nationkey AS BIGINT), n_name, CAST(n_regionkey AS BIGINT)
        |FROM nation WHERE n_regionkey >= 1""".stripMargin,

    "q_except" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_regionkey <= 2
        |EXCEPT
        |SELECT CAST(n_nationkey AS BIGINT), n_name, CAST(n_regionkey AS BIGINT)
        |FROM nation WHERE n_regionkey >= 1""".stripMargin,

    "q_lead_lag" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |lag(o_totalprice, 1) OVER w AS prev_price,
        |lead(o_totalprice, 1) OVER w AS next_price,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin,

    "q_count_nulls" ->
      """SELECT count(*) FILTER (WHERE o_orderkey IS NULL) AS o_orderkey,
        |count(*) FILTER (WHERE o_custkey IS NULL) AS o_custkey,
        |count(*) FILTER (WHERE o_orderstatus IS NULL) AS o_orderstatus,
        |count(*) FILTER (WHERE o_totalprice IS NULL) AS o_totalprice,
        |count(*) FILTER (WHERE o_orderdate IS NULL) AS o_orderdate,
        |count(*) FILTER (WHERE o_orderpriority IS NULL) AS o_orderpriority FROM orders""".stripMargin,

    "q_agg_col" ->
      "SELECT CAST(sum(l_quantity) AS DOUBLE) AS value FROM lineitem",

    "q_get_unique" ->
      "SELECT DISTINCT c_mktsegment FROM customer",

    "q_has_no_nulls" ->
      "SELECT count(*) FILTER (WHERE l_quantity IS NULL) = 0 AS result FROM lineitem",

    "q_weighted_arith" ->
      """SELECT l_returnflag, round(sum(l_extendedprice * share), 6) AS wavg FROM
        |(SELECT l_returnflag, l_extendedprice,
        |  l_quantity / sum(l_quantity) OVER (PARTITION BY l_returnflag) AS share FROM lineitem)
        |GROUP BY l_returnflag""".stripMargin,

    "q_weighted_geom" ->
      """SELECT l_returnflag, round(exp(sum(ln(l_extendedprice) * share)), 6) AS wgeo FROM
        |(SELECT l_returnflag, l_extendedprice,
        |  l_quantity / sum(l_quantity) OVER (PARTITION BY l_returnflag) AS share FROM lineitem)
        |GROUP BY l_returnflag""".stripMargin,

    "q_unweighted_avgs" ->
      """SELECT l_returnflag, round(avg(l_extendedprice), 6) AS uavg,
        |round(exp(avg(ln(l_extendedprice))), 6) AS ugeo FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_weight_shares" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
        |round(s_acctbal / sum(s_acctbal) OVER (PARTITION BY s_nationkey), 6) AS share FROM supplier""".stripMargin,

    "q_load_csv" ->
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name AS region_name FROM region",

    "q_table_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_regionkey = 0""".stripMargin,

    "q_pushdown_read" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, CAST(l_shipdate AS DATE) AS ship_date,
        |l_returnflag, l_quantity FROM lineitem
        |WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
        |AND (l_returnflag = 'A' OR l_returnflag = 'N')""".stripMargin,

    "q_write_partitioned" ->
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%dT%H:%M:%S') AS part_key,
        |count(*) AS n_rows, round(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q_date_snap" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start
        |FROM orders""".stripMargin,

    "q_event_cost" ->
      """SELECT 'ExamplePipeline' AS pipeline, CAST(100000 AS BIGINT) AS total_time_ms,
        |CAST(8 AS BIGINT) AS total_cores, CAST(12 AS BIGINT) AS total_memory_gb,
        |'t4g.2xlarge' AS instance_type, CAST(0.0093 AS DOUBLE) AS pipeline_cost""".stripMargin,

    // constant-output oracle: instance choice and cost are closed-form
    // from the packaged public price table (cheapest fit) and the
    // fixture's start/end timestamps; the corrupt fixture log counts
    // as the one sweep error
    "q_event_sweep" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'AlphaPipeline', CAST(1700200000000 AS BIGINT), CAST(1800000 AS BIGINT),
        |   CAST(4 AS BIGINT), CAST(2 AS BIGINT), 't4g.xlarge', CAST(0.084 AS DOUBLE), CAST(1 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'BetaPipeline', CAST(1700100000000 AS BIGINT), CAST(7200000 AS BIGINT),
        |   CAST(6 AS BIGINT), CAST(24 AS BIGINT), 'm5a.2xlarge', CAST(0.86 AS DOUBLE), CAST(1 AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'AlphaPipeline', CAST(1700000000000 AS BIGINT), CAST(3600000 AS BIGINT),
        |   CAST(8 AS BIGINT), CAST(12 AS BIGINT), 't4g.2xlarge', CAST(0.336 AS DOUBLE), CAST(1 AS BIGINT))
        |) AS t(sweep_rank, pipeline, ts_ms, total_time_ms, total_cores,
        |       total_memory_gb, instance_type, pipeline_cost, n_errors)""".stripMargin,

    // oracle pins the EXPECTED host→domain mapping via parallel
    // constant lists instead of re-implementing the eTLD+1 heuristic
    "q_url_parse" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |CASE WHEN doc_id % 5 = 0 THEN 'http' ELSE 'https' END AS protocol,
        |(['news.example.com','blog.sample.org','shop.acme.co.uk','data.mirror.net',
        |  'example.com.au','weird.deep.site.co.jp','cdn.images.io','www.blocked.com',
        |  'localhost','192.168.10.1','docs.example.ac.uk','big.mirror.net'])[CAST(doc_id % 12 AS INT)+1] AS host,
        |'/p/' || doc_id AS path,
        |(['example.com','sample.org','acme.co.uk','mirror.net',
        |  'example.com.au','site.co.jp','images.io','blocked.com',
        |  'localhost','192.168.10.1','example.ac.uk','mirror.net'])[CAST(doc_id % 12 AS INT)+1] AS domain
        |FROM documents""".stripMargin,

    "q_domain_profile" ->
      """WITH u AS (
        |  SELECT (['example.com','sample.org','acme.co.uk','mirror.net',
        |    'example.com.au','site.co.jp','images.io','blocked.com',
        |    'localhost','192.168.10.1','example.ac.uk','mirror.net'])[CAST(doc_id % 12 AS INT)+1] AS domain
        |  FROM documents)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
        |FROM u WHERE domain <> 'blocked.com' GROUP BY domain""".stripMargin,

    "q_domain_quota" ->
      """WITH u AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    (['example.com','sample.org','acme.co.uk','mirror.net',
        |     'example.com.au','site.co.jp','images.io','blocked.com',
        |     'localhost','192.168.10.1','example.ac.uk','mirror.net'])[CAST(doc_id % 12 AS INT)+1] AS domain
        |  FROM documents)
        |SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY domain
        |    ORDER BY md5('dq' || domain || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM u) WHERE rn <= 5""".stripMargin,

    "q_keyword_mask" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  regexp_replace(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
        |    '(customer query|table value|value table|big table|slow scan|vector|zzzqx|scan)',
        |    '<MASK>', 'g') AS masked
        |FROM documents""".stripMargin,

    "q_pipeline_curation" ->
      """WITH u AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
        |    (['example.com','sample.org','acme.co.uk','mirror.net',
        |      'example.com.au','site.co.jp','images.io','blocked.com',
        |      'localhost','192.168.10.1','example.ac.uk','mirror.net'])[CAST(doc_id % 12 AS INT)+1] AS domain
        |  FROM documents),
        |f AS (
        |  SELECT * FROM u WHERE domain <> 'blocked.com'
        |    AND NOT EXISTS (
        |      SELECT 1 FROM (VALUES ('slow scan'),('customer query'),('vector')) b(w)
        |      WHERE contains(lower(u.text), b.w))),
        |m AS (
        |  SELECT doc_id, text, domain,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM f),
        |m2 AS (
        |  SELECT doc_id, text, domain, toks,
        |    CAST(len(toks) AS DOUBLE) AS ntok,
        |    greatest(CAST(len(toks) AS DOUBLE), 1.0) AS safen,
        |    CAST(len(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on'], t))) AS DOUBLE) AS nstop,
        |    CAST(len(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nchar_nospace
        |  FROM m),
        |q AS (
        |  SELECT doc_id, text, domain, ntok,
        |    round((least(CAST(len(text) AS DOUBLE) / 500.0, 1.0)
        |      + (1.0 - least(punct / greatest(CAST(len(text) AS DOUBLE), 1.0) * 4.0, 1.0))
        |      + least(nstop / safen * 4.0, 1.0)
        |      + (CASE WHEN nchar_nospace / safen BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)) / 4.0, 6) AS quality
        |  FROM m2),
        |g AS (SELECT * FROM q WHERE quality >= 0.5),
        |dd AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |      ORDER BY doc_id) AS rn
        |    FROM g) WHERE rn = 1)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(round(quality * 1000000, 0) AS BIGINT)) AS DOUBLE)
        |    / (count(*) * 1000000.0), 6) AS avg_quality,
        |  CAST(sum(CAST(ntok AS BIGINT)) AS BIGINT) AS total_tokens
        |FROM dd GROUP BY 1""".stripMargin,

    "q_subword_vocab" ->
      """SELECT piece, CAST(count(*) AS BIGINT) AS c FROM (
        |  SELECT unnest(regexp_split_to_array(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS piece
        |  FROM documents WHERE len(trim(text)) > 0)
        |GROUP BY 1 ORDER BY c DESC, piece LIMIT 20""".stripMargin,

    "q_subword_counts" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_word_pieces,
        |  CAST(len(regexp_replace(lower(text), '\s', '', 'g')) AS BIGINT) AS n_char_pieces
        |FROM documents""".stripMargin,

    "q_bpe_merges" ->
      """SELECT CAST(rank AS BIGINT) AS rank, left_sym, right_sym
        |FROM (VALUES (0, 'a', 'a'), (1, 'a', 'b'), (2, 'b', 'b'))
        |  t(rank, left_sym, right_sym)""".stripMargin,

    "q_bpe_encode" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(2 * (3 + doc_id % 5) AS BIGINT) AS n_pieces,
        |  rtrim(repeat(CASE CAST(doc_id % 4 AS INTEGER)
        |      WHEN 0 THEN 'aa aa' WHEN 1 THEN 'aa ab'
        |      WHEN 2 THEN 'ab ab' ELSE 'bb b' END || ' ',
        |    CAST(3 + doc_id % 5 AS INTEGER))) AS pieces
        |FROM documents""".stripMargin,

    "q_bigram_perplexity" ->
      """WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS arr
        |  FROM documents WHERE len(trim(text)) > 0),
        |toks AS (
        |  SELECT doc_id, unnest(arr) AS w,
        |    unnest(generate_series(1, len(arr))) AS i FROM base),
        |uni AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
        |ust AS (SELECT sum(c) AS n, count(*) AS v FROM uni),
        |bg AS (
        |  SELECT a.doc_id, a.w AS prev, b.w AS w
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |cb AS (SELECT prev, w, count(*) AS cbw FROM bg GROUP BY 1, 2),
        |cp AS (SELECT prev, sum(cbw) AS cpre FROM cb GROUP BY 1),
        |ev AS (SELECT doc_id, prev, w, count(*) AS nd FROM bg GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT ev.doc_id, CAST(sum(nd) AS BIGINT) AS n_bigrams,
        |    round(exp(-sum(nd * ln(
        |      0.7 * (CAST(cbw AS DOUBLE) / CAST(cpre AS DOUBLE)) +
        |      (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) *
        |        ((CAST(c AS DOUBLE) + 1.0) / (CAST(n AS DOUBLE) + 1.0 * CAST(v AS DOUBLE)))
        |    )) / sum(nd)), 6) AS bigram_perplexity
        |  FROM ev JOIN cb USING (prev, w) JOIN cp USING (prev)
        |    JOIN uni ON uni.w = ev.w CROSS JOIN ust
        |  GROUP BY 1)
        |SELECT d.doc_id, sc.n_bigrams, sc.bigram_perplexity
        |FROM (SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d
        |LEFT JOIN sc USING (doc_id)""".stripMargin,

    "q_bigram_perplexity_lm" ->
      """WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS arr
        |  FROM documents WHERE len(trim(text)) > 0),
        |toks AS (
        |  SELECT doc_id, unnest(arr) AS w,
        |    unnest(generate_series(1, len(arr))) AS i FROM base),
        |rtoks AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
        |uni AS (SELECT w, count(*) AS c FROM rtoks GROUP BY 1),
        |ust AS (SELECT sum(c) AS n, count(*) AS v FROM uni),
        |rbg AS (
        |  SELECT a.w AS prev, b.w AS w
        |  FROM rtoks a JOIN rtoks b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |cb AS (SELECT prev, w, count(*) AS cbw FROM rbg GROUP BY 1, 2),
        |cp AS (SELECT prev, sum(cbw) AS cpre FROM cb GROUP BY 1),
        |bg AS (
        |  SELECT a.doc_id, a.w AS prev, b.w AS w
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |ev AS (SELECT doc_id, prev, w, count(*) AS nd FROM bg GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT ev.doc_id, CAST(sum(nd) AS BIGINT) AS n_bigrams,
        |    round(exp(-sum(nd * ln(
        |      0.7 * (CASE WHEN cbw IS NULL OR cpre IS NULL THEN 0.0
        |        ELSE CAST(cbw AS DOUBLE) / CAST(cpre AS DOUBLE) END) +
        |      (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) *
        |        ((CAST(coalesce(c, 0) AS DOUBLE) + 1.0) / (CAST(n AS DOUBLE) + 1.0 * CAST(v AS DOUBLE)))
        |    )) / sum(nd)), 6) AS bigram_perplexity
        |  FROM ev LEFT JOIN cb USING (prev, w) LEFT JOIN cp USING (prev)
        |    LEFT JOIN uni ON uni.w = ev.w CROSS JOIN ust
        |  GROUP BY 1)
        |SELECT d.doc_id, sc.n_bigrams, sc.bigram_perplexity
        |FROM (SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d
        |LEFT JOIN sc USING (doc_id)""".stripMargin,

    "q_keyword_tag" ->
      """SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  array_to_string(list_sort(list(DISTINCT p.pattern)), '|') AS matched
        |FROM documents d
        |JOIN (VALUES ('slow scan'),('scan'),('big table'),('customer query'),
        |             ('table value'),('value table'),('vector'),('zzzqx')) p(pattern)
        |  ON contains(lower(d.text), p.pattern)
        |GROUP BY d.doc_id""".stripMargin,

    "q_keyword_filter" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM (VALUES ('slow scan'),('customer query'),('vector')) b(w)
        |  WHERE contains(lower(d.text), b.w))""".stripMargin,

    "q_keyword_profile" ->
      """SELECT p.pattern,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents d
        |   WHERE contains(lower(d.text), p.pattern)) AS n_docs
        |FROM (VALUES ('slow scan'),('scan'),('big table'),('customer query'),
        |             ('table value'),('value table'),('vector'),('zzzqx')) p(pattern)""".stripMargin,

    "q_token_counts" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |CAST(CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok,
        |CAST(len(regexp_extract_all(text, '(?:''(?:s|d|m|t|ll|ve|re))| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin,

    "q_fingerprint" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM documents""".stripMargin,

    "q_normalize" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm FROM documents""".stripMargin,

    "q_quality" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, toks,
        |    CAST(len(toks) AS DOUBLE) AS ntok,
        |    greatest(CAST(len(toks) AS DOUBLE), 1.0) AS safen,
        |    CAST(len(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on'], t))) AS DOUBLE) AS nstop,
        |    CAST(len(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nchar_nospace
        |  FROM base)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  round((least(CAST(len(text) AS DOUBLE) / 500.0, 1.0)
        |    + (1.0 - least(punct / greatest(CAST(len(text) AS DOUBLE), 1.0) * 4.0, 1.0))
        |    + least(nstop / safen * 4.0, 1.0)
        |    + (CASE WHEN nchar_nospace / safen BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)) / 4.0, 6) AS quality
        |FROM m""".stripMargin,

    "q_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, entropy(c) AS ce FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '')) AS c
        |    FROM documents) GROUP BY doc_id),
        |tk AS (
        |  SELECT doc_id, entropy(tok) AS te FROM (
        |    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
        |    FROM documents WHERE len(trim(text)) > 0) GROUP BY doc_id)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  round(COALESCE(ch.ce, 0), 6) AS char_entropy,
        |  round(COALESCE(tk.te, 0), 6) AS token_entropy
        |FROM documents d
        |LEFT JOIN ch ON d.doc_id = ch.doc_id
        |LEFT JOIN tk ON d.doc_id = tk.doc_id""".stripMargin,

    "q_compress_filter" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(doc_id AS BIGINT) % 2 = 0 AS is_boilerplate
        |FROM documents""".stripMargin,

    "q_langid" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> list_contains(['table','row','column'], t))) AS s_db,
        |    len(list_filter(toks, t -> list_contains(['the','a','of'], t))) AS s_en,
        |    len(list_filter(toks, t -> list_contains(['merge','sort','scan'], t))) AS s_ops
        |  FROM s)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE WHEN s_ops > greatest(s_db, s_en) THEN 'ops'
        |       WHEN s_en > s_db THEN 'en' ELSE 'db' END AS lang_guess
        |FROM sc""".stripMargin,

    "q_exact_dedup" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id FROM (
        |  SELECT doc_id, row_number() OVER (
        |    PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "q_script_profile" ->
      """WITH b AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    regexp_replace(text, '\s+', '', 'g') AS body
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(body) AS n,
        |    CASE WHEN len(body) = 0 THEN 0.0 ELSE round(len(regexp_replace(body, '[^\p{Latin}]', '', 'g'))::DOUBLE / len(body), 6) END AS latin_frac,
        |    CASE WHEN len(body) = 0 THEN 0.0 ELSE round(len(regexp_replace(body, '[^\p{Cyrillic}]', '', 'g'))::DOUBLE / len(body), 6) END AS cyrillic_frac,
        |    CASE WHEN len(body) = 0 THEN 0.0 ELSE round(len(regexp_replace(body, '[^\p{Han}]', '', 'g'))::DOUBLE / len(body), 6) END AS han_frac,
        |    CASE WHEN len(body) = 0 THEN 0.0 ELSE round(len(regexp_replace(body, '[^\p{Arabic}]', '', 'g'))::DOUBLE / len(body), 6) END AS arabic_frac,
        |    CASE WHEN len(body) = 0 THEN 0.0 ELSE round(len(regexp_replace(body, '[^\p{Greek}]', '', 'g'))::DOUBLE / len(body), 6) END AS greek_frac,
        |    CASE WHEN len(body) = 0 THEN 0.0 ELSE round(len(regexp_replace(body, '[^\p{Hangul}]', '', 'g'))::DOUBLE / len(body), 6) END AS hangul_frac,
        |    CASE WHEN len(body) = 0 THEN 0.0 ELSE round(len(regexp_replace(body, '[^\p{Hiragana}\p{Katakana}]', '', 'g'))::DOUBLE / len(body), 6) END AS kana_frac,
        |    CASE WHEN len(body) = 0 THEN 0.0 ELSE round(len(regexp_replace(body, '[^0-9]', '', 'g'))::DOUBLE / len(body), 6) END AS digit_frac
        |  FROM b)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |  latin_frac, cyrillic_frac, han_frac, arabic_frac, greek_frac,
        |  hangul_frac, kana_frac, digit_frac,
        |  CASE WHEN n = 0 THEN 'none'
        |       WHEN greatest(latin_frac, cyrillic_frac, han_frac, arabic_frac,
        |            greek_frac, hangul_frac, kana_frac, digit_frac) = 0.0 THEN 'other'
        |       WHEN latin_frac = greatest(latin_frac, cyrillic_frac, han_frac, arabic_frac, greek_frac, hangul_frac, kana_frac, digit_frac) THEN 'latin'
        |       WHEN cyrillic_frac = greatest(latin_frac, cyrillic_frac, han_frac, arabic_frac, greek_frac, hangul_frac, kana_frac, digit_frac) THEN 'cyrillic'
        |       WHEN han_frac = greatest(latin_frac, cyrillic_frac, han_frac, arabic_frac, greek_frac, hangul_frac, kana_frac, digit_frac) THEN 'han'
        |       WHEN arabic_frac = greatest(latin_frac, cyrillic_frac, han_frac, arabic_frac, greek_frac, hangul_frac, kana_frac, digit_frac) THEN 'arabic'
        |       WHEN greek_frac = greatest(latin_frac, cyrillic_frac, han_frac, arabic_frac, greek_frac, hangul_frac, kana_frac, digit_frac) THEN 'greek'
        |       WHEN hangul_frac = greatest(latin_frac, cyrillic_frac, han_frac, arabic_frac, greek_frac, hangul_frac, kana_frac, digit_frac) THEN 'hangul'
        |       WHEN kana_frac = greatest(latin_frac, cyrillic_frac, han_frac, arabic_frac, greek_frac, hangul_frac, kana_frac, digit_frac) THEN 'kana'
        |       ELSE 'digit' END AS dominant_script
        |FROM m""".stripMargin,

    "q_cluster_sizes" ->
      """WITH RECURSIVE toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |wd AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[u.s : u.s + 7], ' ') AS w
        |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS u(s)
        |  WHERE len(toks) >= 8),
        |p AS (
        |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM wd l JOIN wd r ON l.w = r.w AND l.doc_id < r.doc_id),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY cluster_id)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  CAST(count(*) * cluster_size AS BIGINT) AS n_docs
        |FROM sz GROUP BY cluster_size ORDER BY cluster_size DESC""".stripMargin,

    "q_leakage_split" ->
      """WITH RECURSIVE toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |wd AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[u.s : u.s + 7], ' ') AS w
        |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS u(s)
        |  WHERE len(toks) >= 8),
        |p AS (
        |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM wd l JOIN wd r ON l.w = r.w AND l.doc_id < r.doc_id),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |keyed AS (
        |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS skey
        |  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d
        |  LEFT JOIN cl ON d.doc_id = cl.doc_id)
        |SELECT doc_id,
        |  CASE WHEN substr(md5('ls' || CAST(skey AS VARCHAR)), 1, 8) < 'cccccccc'
        |       THEN 'train' ELSE 'test' END AS split
        |FROM keyed""".stripMargin,

    "q_dedup_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |wd AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[u.s : u.s + 7], ' ') AS w
        |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS u(s)
        |  WHERE len(toks) >= 8),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM wd l JOIN wd r ON l.w = r.w AND l.doc_id < r.doc_id),
        |g AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    [substr(t, i, 3) FOR i IN range(1, greatest(len(t) - 2, 1) + 1)],
        |    x -> len(x) = 3)) AS grams
        |  FROM (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents)),
        |truth AS (
        |  SELECT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM g l, g r WHERE l.doc_id < r.doc_id
        |    AND CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
        |        / len(list_distinct(l.grams || r.grams)) >= 0.7),
        |hits AS (
        |  SELECT c.id_a, c.id_b FROM cand c
        |  JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b),
        |counts AS (
        |  SELECT (SELECT count(*) FROM cand) AS nc,
        |         (SELECT count(*) FROM truth) AS nt,
        |         (SELECT count(*) FROM hits) AS nh)
        |SELECT CAST(nc AS BIGINT) AS n_candidates, CAST(nt AS BIGINT) AS n_truth,
        |  CAST(nh AS BIGINT) AS n_hits,
        |  CASE WHEN nc = 0 THEN 1.0 ELSE round(CAST(nh AS DOUBLE) / nc, 6) END AS precision,
        |  CASE WHEN nt = 0 THEN 1.0 ELSE round(CAST(nh AS DOUBLE) / nt, 6) END AS recall
        |FROM counts""".stripMargin,

    "q_ngram_pairs" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    [substr(t, i, 3) FOR i IN range(1, greatest(len(t) - 2, 1) + 1)],
        |    x -> len(x) = 3)) AS grams
        |  FROM (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents WHERE doc_id < 1000))
        |SELECT CAST(l.doc_id AS BIGINT) AS id_a, CAST(r.doc_id AS BIGINT) AS id_b,
        |  CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) / len(list_distinct(l.grams || r.grams)) AS jaccard
        |FROM g l, g r WHERE l.doc_id < r.doc_id
        |AND CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) / len(list_distinct(l.grams || r.grams)) >= 0.7""".stripMargin,

    "q_cluster_rep" ->
      """WITH RECURSIVE base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, len(text) AS doc_len,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id < 1000),
        |g AS (
        |  SELECT doc_id, doc_len, list_distinct(list_filter(
        |    [substr(t, i, 3) FOR i IN range(1, greatest(len(t) - 2, 1) + 1)],
        |    x -> len(x) = 3)) AS grams FROM base),
        |p AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b FROM g l, g r
        |  WHERE l.doc_id < r.doc_id
        |  AND CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) / len(list_distinct(l.grams || r.grams)) >= 0.7),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
        |lab AS (
        |  SELECT g.doc_id, g.doc_len, coalesce(cl.cluster, g.doc_id) AS cluster
        |  FROM g LEFT JOIN cl ON g.doc_id = cl.doc_id),
        |rep AS (
        |  SELECT doc_id, doc_len, row_number() OVER (
        |    PARTITION BY cluster ORDER BY doc_len DESC, doc_id) AS rn FROM lab)
        |SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len FROM rep WHERE rn = 1""".stripMargin,

    "q_pii_profile" ->
      """WITH t AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CASE WHEN CAST(doc_id AS BIGINT) % 10 = 0
        |      THEN text || ' contact bob@example.com via https://ex.io/a?k=12345 ref 99887766551'
        |      ELSE text END AS x
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(x, 'https?://\S+')) AS BIGINT) AS n_urls,
        |    CAST(len(regexp_extract_all(x, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(x, '[0-9]{7,}')) AS BIGINT) AS n_numbers
        |  FROM t)
        |SELECT doc_id, n_urls, n_emails, n_numbers,
        |  (n_urls + n_emails + n_numbers) > 0 AS any_pii FROM m""".stripMargin,

    "q_mix_tokens" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
        |r AS (
        |  SELECT source,
        |    round(least(1.0, CAST(CASE source WHEN 'src0' THEN 700
        |                                      WHEN 'src1' THEN 2000
        |                                      ELSE 0 END AS DOUBLE)
        |      / greatest(CAST(sum(ntok) AS DOUBLE), 1.0)), 6) AS rate
        |  FROM d GROUP BY source)
        |SELECT d.doc_id, d.source
        |FROM d JOIN r USING (source)
        |WHERE r.rate >= 1.0 OR
        |  substr(md5('mx' || d.source || CAST(d.doc_id AS VARCHAR)), 1, 8) <
        |    printf('%08x', CAST(floor(r.rate * 4294967296.0) AS BIGINT))""".stripMargin,

    "q_scrub" ->
      """WITH t AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CASE WHEN CAST(doc_id AS BIGINT) % 10 = 0
        |      THEN text || ' contact bob@example.com via https://ex.io/a?k=12345 ref 99887766551'
        |      ELSE text END AS x
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(x,
        |    'https?://\S+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS scrubbed
        |FROM t""".stripMargin,

    "q_det_sample" ->
      // threshold 0x19999999 = floor(0.1 * 2^32) in hex — md5-prefix
      // sampling is engine-portable by construction
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice FROM orders
        |WHERE substr(md5('s1' || CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR)), 1, 8) < '19999999'""".stripMargin,

    "q_pipeline_dsir" ->
      """WITH tk AS (SELECT doc_id, entropy(tok) AS te FROM (
        |    SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest(string_split(trim(text), ' ')) AS tok
        |    FROM documents WHERE len(trim(text)) > 0) GROUP BY doc_id),
        |gated AS (SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |    lower(regexp_replace(trim(d.text), '\s+', ' ', 'g')) AS t
        |  FROM documents d JOIN tk ON CAST(d.doc_id AS BIGINT) = tk.doc_id
        |  WHERE round(tk.te, 6) >= 4.0),
        |toks AS (SELECT doc_id, string_split(t, ' ') AS toks FROM gated WHERE len(t) > 0),
        |grams AS (
        |  SELECT doc_id, unnest(toks) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
        |  FROM toks, unnest(range(1, len(toks))) AS r(i) WHERE len(toks) >= 2),
        |tdist AS (SELECT g, count(*) AS ct FROM grams WHERE doc_id % 7 = 0 GROUP BY g),
        |sdist AS (SELECT g, count(*) AS cs FROM grams GROUP BY g),
        |d AS (SELECT coalesce(t.g, s.g) AS g, coalesce(ct, 0) AS ct, coalesce(cs, 0) AS cs
        |      FROM tdist t FULL OUTER JOIN sdist s ON t.g = s.g),
        |stats AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt, CAST(sum(cs) AS DOUBLE) AS ns,
        |          CAST(count(*) AS DOUBLE) AS f FROM d),
        |lr AS (SELECT g, ln((ct + 1.0) / (nt + f)) - ln((cs + 1.0) / (ns + f)) AS lr
        |       FROM d, stats),
        |sc AS (SELECT doc_id AS sid, sum(lr) AS w FROM grams JOIN lr USING (g) GROUP BY doc_id),
        |keyed AS (
        |  SELECT g0.doc_id,
        |    ln(-ln((('0x' || substr(md5('pd1' || CAST(g0.doc_id AS VARCHAR)), 1, 8))::BIGINT + 1.0)
        |      / 4294967296.0)) - coalesce(sc.w, 0) AS gk
        |  FROM gated g0 LEFT JOIN sc ON g0.doc_id = sc.sid),
        |sel AS (SELECT doc_id FROM keyed ORDER BY gk, doc_id LIMIT 150)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY
        |    md5('pd1' || CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) - 1 AS BIGINT) AS position
        |FROM sel""".stripMargin,

    "q_exact_quantile" ->
      """WITH v AS (SELECT l_extendedprice AS val,
        |    row_number() OVER (ORDER BY l_extendedprice) - 1 AS r
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM v),
        |qs AS (SELECT CAST(unnest([0.1, 0.5, 0.9, 0.99]) AS DOUBLE) AS q)
        |SELECT qs.q, v.val AS value
        |FROM qs, n JOIN v
        |  ON v.r = CAST(least(floor(qs.q * (n.n - 1)), n.n - 1) AS BIGINT)""".stripMargin,

    "q_quantile_gate" ->
      """WITH v AS (SELECT l_extendedprice AS val,
        |    row_number() OVER (ORDER BY l_extendedprice) - 1 AS r
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM v),
        |thr AS (SELECT val FROM v, n
        |        WHERE v.r = CAST(floor(CAST(0.9 AS DOUBLE) * (n.n - 1)) AS BIGINT))
        |SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
        |FROM lineitem, thr WHERE l_extendedprice >= thr.val""".stripMargin,

    "q_unicode_norm" ->
      """WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE CAST(CAST(doc_id AS BIGINT) % 5 AS INTEGER)
        |    WHEN 0 THEN 'café'
        |    WHEN 1 THEN 'cafe' || chr(769)
        |    WHEN 2 THEN 'naïve test'
        |    WHEN 3 THEN 'über açaí'
        |    ELSE 'plain ascii' END AS word
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(word) AS nfc,
        |  strip_accents(word) AS folded FROM w""".stripMargin,

    "q_hard_negatives" ->
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |corpus AS (SELECT vec_id, v FROM e
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(v, x -> x + 0.01)
        |  FROM e WHERE vec_id < 10),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |s AS (SELECT query_id, c.vec_id AS corpus_id,
        |    list_cosine_similarity(qv, c.v) AS sim
        |  FROM q CROSS JOIN corpus c WHERE query_id <> c.vec_id),
        |f AS (SELECT * FROM s WHERE sim < 0.95),
        |r AS (SELECT query_id, corpus_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rnk
        |  FROM f)
        |SELECT query_id, corpus_id, round(sim, 6) AS sim,
        |  CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5""".stripMargin,

    "q_pref_bias" ->
      """WITH d AS (SELECT CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(avg(CAST(CASE WHEN n - n//2 > 0 THEN 1.0 ELSE 0.0 END AS DOUBLE)), 6)
        |    AS frac_chosen_longer,
        |  round(avg(CAST(n - n//2 AS DOUBLE)), 6) AS mean_len_delta
        |FROM d""".stripMargin,

    "q_pref_leakage" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |    'ask ' || CAST(CAST(doc_id AS BIGINT) % 25 AS VARCHAR) AS prompt,
        |    CASE WHEN CAST(doc_id AS BIGINT) % 10 < 8
        |      THEN 'train' ELSE 'eval' END AS split
        |  FROM documents)
        |SELECT md5(prompt) AS prompt_fp,
        |  CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p GROUP BY md5(prompt)
        |HAVING count(DISTINCT split) > 1""".stripMargin,

    "q_pref_dedup" ->
      """SELECT CAST(min(CAST(doc_id AS BIGINT)) AS BIGINT) AS doc_id
        |FROM documents GROUP BY CAST(doc_id AS BIGINT) % 25""".stripMargin,

    "q_pipeline_chat" ->
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents),
        |d AS (SELECT id, id % 4 AS shard,
        |    (2 + id % 3) +
        |    (CASE WHEN len(t) = 0 THEN 0 ELSE len(string_split(t, ' ')) END) AS w
        |  FROM docs),
        |o AS (SELECT shard, id, w,
        |    COALESCE(SUM(w) OVER (PARTITION BY shard ORDER BY id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS off
        |  FROM d WHERE w > 0)
        |SELECT CAST(shard AS BIGINT) AS shard, id AS conv_id, s AS seq_id,
        |  CAST(greatest(s*512 - off, 0) AS BIGINT) AS doc_start,
        |  CAST(greatest(off - s*512, 0) AS BIGINT) AS seq_start,
        |  CAST(least(off + w, (s+1)*512) - greatest(off, s*512) AS BIGINT) AS n_tokens
        |FROM o CROSS JOIN UNNEST(generate_series(CAST(off//512 AS BIGINT),
        |  CAST((off+w-1)//512 AS BIGINT))) AS u(s)""".stripMargin,

    "q_group_quantile" ->
      """WITH v AS (SELECT l_returnflag AS g, l_extendedprice AS val,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) - 1 AS r
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT g, count(*) AS n FROM v GROUP BY g),
        |qs AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q)
        |SELECT v.g AS l_returnflag, qs.q, v.val AS value
        |FROM qs, n JOIN v ON v.g = n.g
        |  AND v.r = CAST(least(floor(qs.q * (n.n - 1)), n.n - 1) AS BIGINT)""".stripMargin,

    "q_group_quantile_gate" ->
      """WITH v AS (SELECT l_returnflag AS g, l_extendedprice AS val,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) - 1 AS r
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT g, count(*) AS n FROM v GROUP BY g),
        |thr AS (SELECT v.g, v.val FROM n JOIN v ON v.g = n.g
        |  AND v.r = CAST(floor(CAST(0.95 AS DOUBLE) * (n.n - 1)) AS BIGINT))
        |SELECT li.l_returnflag, CAST(li.l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(li.l_linenumber AS BIGINT) AS l_linenumber, li.l_extendedprice
        |FROM lineitem li JOIN thr ON li.l_returnflag = thr.g
        |WHERE li.l_extendedprice >= thr.val""".stripMargin,

    "q_conv_turns" ->
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents),
        |base AS (SELECT id,
        |    CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[]) ELSE string_split(t, ' ') END AS toks,
        |    CAST(2 + id % 3 AS BIGINT) AS k,
        |    CASE WHEN id % 4 = 0 THEN 1 ELSE 0 END AS o FROM docs)
        |SELECT id AS conv_id, CAST(j AS BIGINT) AS turn_idx,
        |  CASE WHEN j < o THEN 'system'
        |       WHEN (j - o) % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |  array_to_string(toks[(j*len(toks))//k + 1 : ((j+1)*len(toks))//k], ' ') AS content
        |FROM base, unnest(range(k)) AS r(j)""".stripMargin,

    "q_conv_profile" ->
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents),
        |base AS (SELECT id,
        |    CASE WHEN len(t) = 0 THEN 0 ELSE len(string_split(t, ' ')) END AS n,
        |    CAST(2 + id % 3 AS BIGINT) AS k,
        |    CAST(CASE WHEN id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS o FROM docs)
        |SELECT id AS conv_id, k AS n_turns, o AS n_system,
        |  (k - o + 1) // 2 AS n_user, (k - o) // 2 AS n_assistant,
        |  CAST(n AS BIGINT) AS total_tokens, true AS alternates
        |FROM base""".stripMargin,

    "q_conv_render" ->
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents),
        |base AS (SELECT id,
        |    CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[]) ELSE string_split(t, ' ') END AS toks,
        |    CAST(2 + id % 3 AS BIGINT) AS k,
        |    CASE WHEN id % 4 = 0 THEN 1 ELSE 0 END AS o FROM docs),
        |turns AS (
        |  SELECT id, CAST(j AS BIGINT) AS turn_idx,
        |    CASE WHEN j < o THEN 'system'
        |         WHEN (j - o) % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    array_to_string(toks[(j*len(toks))//k + 1 : ((j+1)*len(toks))//k], ' ') AS content
        |  FROM base, unnest(range(k)) AS r(j))
        |SELECT id AS conv_id,
        |  string_agg('<|' || role || '|> ' || content, chr(10) ORDER BY turn_idx) AS training_text
        |FROM turns GROUP BY id""".stripMargin,

    "q_conv_dedup" ->
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents),
        |base AS (SELECT id,
        |    CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[]) ELSE string_split(t, ' ') END AS toks,
        |    CAST(2 + id % 3 AS BIGINT) AS k,
        |    CASE WHEN id % 4 = 0 THEN 1 ELSE 0 END AS o FROM docs),
        |turns AS (
        |  SELECT id, CAST(j AS BIGINT) AS turn_idx,
        |    CASE WHEN j < o THEN 'system'
        |         WHEN (j - o) % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    array_to_string(toks[(j*len(toks))//k + 1 : ((j+1)*len(toks))//k], ' ') AS content
        |  FROM base, unnest(range(k)) AS r(j)),
        |rend AS (
        |  SELECT id, string_agg('<|' || role || '|> ' || content, chr(10) ORDER BY turn_idx) AS r
        |  FROM turns GROUP BY id),
        |unioned AS (
        |  SELECT id AS conv_id, r FROM rend
        |  UNION ALL
        |  SELECT id + 1000000 AS conv_id, r FROM rend WHERE id < 50)
        |SELECT min(conv_id) AS conv_id FROM unioned
        |GROUP BY lower(regexp_replace(trim(r), '\s+', ' ', 'g'))""".stripMargin,

    "q_dsir_weights" ->
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents),
        |toks AS (SELECT doc_id, string_split(t, ' ') AS toks FROM docs WHERE len(t) > 0),
        |grams AS (
        |  SELECT doc_id, unnest(toks) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
        |  FROM toks, unnest(range(1, len(toks))) AS r(i) WHERE len(toks) >= 2),
        |tdist AS (SELECT g, count(*) AS ct FROM grams WHERE doc_id % 7 = 0 GROUP BY g),
        |sdist AS (SELECT g, count(*) AS cs FROM grams GROUP BY g),
        |d AS (SELECT coalesce(t.g, s.g) AS g, coalesce(ct, 0) AS ct, coalesce(cs, 0) AS cs
        |      FROM tdist t FULL OUTER JOIN sdist s ON t.g = s.g),
        |stats AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt, CAST(sum(cs) AS DOUBLE) AS ns,
        |          CAST(count(*) AS DOUBLE) AS f FROM d),
        |lr AS (SELECT g, ln((ct + 1.0) / (nt + f)) - ln((cs + 1.0) / (ns + f)) AS lr
        |       FROM d, stats),
        |sc AS (SELECT doc_id AS sid, sum(lr) AS w FROM grams JOIN lr USING (g) GROUP BY doc_id)
        |SELECT d0.doc_id, round(coalesce(sc.w, 0), 6) AS log_weight
        |FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d0
        |LEFT JOIN sc ON d0.doc_id = sc.sid""".stripMargin,

    "q_dsir_sample" ->
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents),
        |toks AS (SELECT doc_id, string_split(t, ' ') AS toks FROM docs WHERE len(t) > 0),
        |grams AS (
        |  SELECT doc_id, unnest(toks) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
        |  FROM toks, unnest(range(1, len(toks))) AS r(i) WHERE len(toks) >= 2),
        |tdist AS (SELECT g, count(*) AS ct FROM grams WHERE doc_id % 7 = 0 GROUP BY g),
        |sdist AS (SELECT g, count(*) AS cs FROM grams GROUP BY g),
        |d AS (SELECT coalesce(t.g, s.g) AS g, coalesce(ct, 0) AS ct, coalesce(cs, 0) AS cs
        |      FROM tdist t FULL OUTER JOIN sdist s ON t.g = s.g),
        |stats AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt, CAST(sum(cs) AS DOUBLE) AS ns,
        |          CAST(count(*) AS DOUBLE) AS f FROM d),
        |lr AS (SELECT g, ln((ct + 1.0) / (nt + f)) - ln((cs + 1.0) / (ns + f)) AS lr
        |       FROM d, stats),
        |sc AS (SELECT doc_id AS sid, sum(lr) AS w FROM grams JOIN lr USING (g) GROUP BY doc_id),
        |keyed AS (
        |  SELECT d0.doc_id,
        |    ln(-ln((('0x' || substr(md5('dsir1' || CAST(d0.doc_id AS VARCHAR)), 1, 8))::BIGINT + 1.0)
        |      / 4294967296.0)) - coalesce(sc.w, 0) AS gk
        |  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d0
        |  LEFT JOIN sc ON d0.doc_id = sc.sid)
        |SELECT doc_id FROM keyed ORDER BY gk, doc_id LIMIT 100""".stripMargin,

    "q_shuffle_order" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(row_number() OVER (ORDER BY
        |    md5('epoch1' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)),
        |    CAST(CAST(doc_id AS BIGINT) AS VARCHAR)) - 1 AS BIGINT) AS position
        |FROM documents""".stripMargin,

    "q_mix_corpora" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, 'even' AS source FROM documents
        |WHERE CAST(doc_id AS BIGINT) % 2 = 0
        |  AND substr(md5('even' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)), 1, 8) < '80000000'
        |UNION ALL
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, 'odd' AS source FROM documents
        |WHERE CAST(doc_id AS BIGINT) % 2 = 1
        |  AND substr(md5('odd' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)), 1, 8) < '33333333'""".stripMargin,

    "q_stratified_sample" ->
      // thresholds: 0.25 → 40000000, 0.5 → 80000000; de keeps all; es/zh drop
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
        |WHERE (lang = 'de')
        |   OR (lang = 'en' AND substr(md5('st' || lang || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)), 1, 8) < '40000000')
        |   OR (lang = 'fr' AND substr(md5('st' || lang || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)), 1, 8) < '80000000')""".stripMargin,

    "q_temperature_mix" ->
      // rate_s = min(1, round(200·√n_s / Σ√n_t / n_s, 6)); the round-to-6
      // quantisation makes the md5 threshold engine-portable
      """WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |tot AS (SELECT SUM(POW(n, 0.5)) AS z FROM counts),
        |rates AS (SELECT lang,
        |            LEAST(1.0, ROUND(200.0 * POW(n, 0.5) / z / n, 6)) AS rate
        |          FROM counts, tot)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE r.rate >= 1.0
        |   OR substr(md5('tm' || d.lang || CAST(CAST(d.doc_id AS BIGINT) AS VARCHAR)), 1, 8)
        |      < printf('%08x', CAST(floor(r.rate * 4294967296.0) AS BIGINT))""".stripMargin,

    "q_pack_shards" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |  CAST(FLOOR(COALESCE(SUM(CAST(n_chars AS BIGINT)) OVER (
        |    PARTITION BY source ORDER BY CAST(doc_id AS BIGINT)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4000.0) AS BIGINT) AS shard_id
        |FROM documents""".stripMargin,

    "q_pack_greedy" ->
      // the greedy recurrence, replayed exactly: row n+1 of each group
      // extends row n's (shard, fill) state through a recursive CTE
      """WITH RECURSIVE base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source, CAST(n_chars AS BIGINT) AS w,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY CAST(doc_id AS BIGINT)) AS rn
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, source, w, rn, CAST(0 AS BIGINT) AS shard_id, CAST(w AS DOUBLE) AS fill
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.doc_id, b.source, b.w, b.rn,
        |    CASE WHEN p.fill + b.w > 4000.0 THEN p.shard_id + 1 ELSE p.shard_id END,
        |    CASE WHEN p.fill + b.w > 4000.0 THEN CAST(b.w AS DOUBLE) ELSE p.fill + b.w END
        |  FROM base b JOIN packed p ON b.source = p.source AND b.rn = p.rn + 1)
        |SELECT doc_id, source, shard_id FROM packed""".stripMargin,

    "q_split" ->
      // thresholds: floor(0.8*2^32)=0xcccccccc, floor(0.9*2^32)=0xe6666666
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE WHEN substr(md5('sp' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substr(md5('sp' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "q_quota_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5('q' || lang || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)), CAST(doc_id AS BIGINT)) AS rn
        |  FROM documents) WHERE rn <= 20""".stripMargin,

    "q_pack_assemble" ->
      """WITH RECURSIVE base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source, text, CAST(n_chars AS BIGINT) AS w,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY CAST(doc_id AS BIGINT)) AS rn
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, source, text, w, rn, CAST(0 AS BIGINT) AS shard_id, CAST(w AS DOUBLE) AS fill
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.doc_id, b.source, b.text, b.w, b.rn,
        |    CASE WHEN p.fill + b.w > 4000.0 THEN p.shard_id + 1 ELSE p.shard_id END,
        |    CASE WHEN p.fill + b.w > 4000.0 THEN CAST(b.w AS DOUBLE) ELSE p.fill + b.w END
        |  FROM base b JOIN packed p ON b.source = p.source AND b.rn = p.rn + 1)
        |SELECT source, shard_id,
        |  string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS packed_text,
        |  COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS total_weight
        |FROM packed GROUP BY 1, 2""".stripMargin,

    "q_pack_windows" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS w
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, w,
        |    COALESCE(SUM(w) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS off
        |  FROM d WHERE w > 0)
        |SELECT source, doc_id, s AS seq_id,
        |  CAST(greatest(s*512 - off, 0) AS BIGINT) AS doc_start,
        |  CAST(greatest(off - s*512, 0) AS BIGINT) AS seq_start,
        |  CAST(least(off + w, (s+1)*512) - greatest(off, s*512) AS BIGINT) AS n_tokens
        |FROM o CROSS JOIN UNNEST(generate_series(CAST(off//512 AS BIGINT), CAST((off+w-1)//512 AS BIGINT))) AS u(s)""".stripMargin,

    "q_pack_window_stats" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS w
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, w,
        |    COALESCE(SUM(w) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS off
        |  FROM d WHERE w > 0),
        |perdoc AS (
        |  SELECT source, doc_id, w,
        |    CAST((off+w-1)//512 - off//512 + 1 AS BIGINT) AS n_slices
        |  FROM o)
        |SELECT source,
        |  CAST(sum(w) AS BIGINT) AS total_tokens,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n_slices > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
        |  CAST(ceil(CAST(sum(w) AS DOUBLE) / 512.0) AS BIGINT) AS n_sequences,
        |  CAST(CAST(ceil(CAST(sum(w) AS DOUBLE) / 512.0) AS BIGINT) * 512 - sum(w) AS BIGINT) AS tail_pad_tokens
        |FROM perdoc GROUP BY 1""".stripMargin,

    "q_pack_window_assemble" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |d2 AS (SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS w FROM d),
        |o AS (
        |  SELECT doc_id, source, toks, w,
        |    COALESCE(SUM(w) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS off
        |  FROM d2 WHERE w > 0),
        |m AS (
        |  SELECT source, doc_id, s AS seq_id, toks,
        |    CAST(greatest(s*512 - off, 0) AS BIGINT) AS doc_start,
        |    CAST(greatest(off - s*512, 0) AS BIGINT) AS seq_start,
        |    CAST(least(off + w, (s+1)*512) - greatest(off, s*512) AS BIGINT) AS n_tokens
        |  FROM o CROSS JOIN UNNEST(generate_series(CAST(off//512 AS BIGINT), CAST((off+w-1)//512 AS BIGINT))) AS u(s))
        |SELECT source, seq_id,
        |  string_agg(array_to_string(toks[CAST(doc_start+1 AS INT):CAST(doc_start+n_tokens AS INT)], ' '), ' ' ORDER BY seq_start) AS seq_text,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM m GROUP BY source, seq_id""".stripMargin,

    "q_bloom_semi" ->
      """SELECT CAST(l.l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(l.l_quantity AS DOUBLE) AS l_quantity,
        |  CAST(l.l_linenumber AS BIGINT) AS l_linenumber
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE CAST(o.o_orderkey AS BIGINT) = CAST(l.l_orderkey AS BIGINT)
        |    AND o.o_totalprice > 450000.0)""".stripMargin,

    "q_bloom_anti" ->
      """SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey, c.c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE CAST(o.o_custkey AS BIGINT) = CAST(c.c_custkey AS BIGINT)
        |    AND o.o_totalprice > 450000.0)""".stripMargin,

    "q_bloom_decontaminate" ->
      // identical oracle to q_decontaminate: the bloom prefilter is
      // semantics-transparent (no false negatives; exact verify kills
      // every false positive)
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
        |ev AS (SELECT doc_id, text FROM docs WHERE doc_id < 100),
        |tr AS (SELECT t.doc_id,
        |         CASE WHEN t.doc_id < 110 AND e.text IS NOT NULL
        |              THEN t.text || ' ' || e.text ELSE t.text END AS text
        |       FROM docs t LEFT JOIN ev e ON e.doc_id = t.doc_id - 100
        |       WHERE t.doc_id >= 100),
        |grams AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 5
        |         THEN [array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)]
        |         ELSE [array_to_string(toks, ' ')] END) AS g
        |  FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks FROM tr)),
        |evg AS (
        |  SELECT list_distinct(flatten(list(g))) AS eg
        |  FROM (SELECT list_distinct(
        |    CASE WHEN len(toks) >= 5
        |         THEN [array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)]
        |         ELSE [array_to_string(toks, ' ')] END) AS g
        |  FROM (SELECT string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks FROM ev)))
        |SELECT grams.doc_id FROM grams, evg
        |WHERE len(list_intersect(grams.g, evg.eg)) < 1""".stripMargin,

    "q_semantic_clusters" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |aug AS (
        |  SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x + 0.01) AS v
        |  FROM e0 WHERE vec_id < 20),
        |allv AS (SELECT * FROM e0 UNION ALL SELECT * FROM aug),
        |p AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b FROM allv l, allv r
        |  WHERE l.vec_id < r.vec_id AND list_cosine_similarity(l.v, r.v) >= 0.95),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |cl AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
        |SELECT allv.vec_id, coalesce(cl.cluster_id, allv.vec_id) AS cluster_id
        |FROM allv LEFT JOIN cl ON allv.vec_id = cl.vec_id""".stripMargin,

    "q_quantize" ->
      """WITH v AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |      coalesce(list_max(list_transform(e, x -> abs(x))), 0) / 127.0 AS scale FROM v)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  array_to_string(CASE WHEN scale = 0 THEN list_transform(e, x -> 0)
        |       ELSE list_transform(e, x -> CAST(round(x / scale) AS INTEGER)) END, ',') AS qvec_csv
        |FROM s""".stripMargin,

    "q_embedding_drift" ->
      """WITH r AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 250),
        |c AS (SELECT list_transform(CAST(embedding AS DOUBLE[]), (x, i) -> CASE WHEN i = 1 THEN x + 0.05 ELSE x END) AS v
        |      FROM embeddings WHERE vec_id >= 250),
        |cr AS (SELECT gs.p AS p, avg(v[gs.p]) AS m FROM r, unnest(generate_series(1, len(v))) AS gs(p) GROUP BY 1),
        |cc AS (SELECT gs.p AS p, avg(v[gs.p]) AS m FROM c, unnest(generate_series(1, len(v))) AS gs(p) GROUP BY 1),
        |cz AS (SELECT sum(cr.m * cc.m) / (sqrt(sum(cr.m * cr.m)) * sqrt(sum(cc.m * cc.m))) AS cos
        |       FROM cr JOIN cc USING (p)),
        |sr AS (SELECT count(*) AS n_ref, avg(sqrt(list_sum(list_transform(v, x -> x * x)))) AS mn FROM r),
        |sc AS (SELECT count(*) AS n_cur, avg(sqrt(list_sum(list_transform(v, x -> x * x)))) AS mn FROM c)
        |SELECT CAST(sr.n_ref AS BIGINT) AS n_ref, CAST(sc.n_cur AS BIGINT) AS n_cur,
        |  round(cz.cos, 6) AS centroid_cosine,
        |  round(sr.mn, 6) AS mean_norm_ref, round(sc.mn, 6) AS mean_norm_cur
        |FROM sr, sc, cz""".stripMargin,

    "q_matryoshka" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[])[1:16] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[])[1:16] AS cv FROM embeddings),
        |s AS (SELECT query_id, corpus_id, list_cosine_similarity(qv, cv) AS sim
        |      FROM q CROSS JOIN c WHERE query_id <> corpus_id),
        |r AS (SELECT query_id, corpus_id, sim,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rnk FROM s)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(corpus_id AS BIGINT) AS corpus_id,
        |  round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5""".stripMargin,

    "q_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
        |s AS (SELECT query_id, corpus_id, list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) AS sim
        |      FROM q CROSS JOIN c WHERE query_id <> corpus_id),
        |r AS (SELECT query_id, corpus_id, sim,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rnk FROM s)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(corpus_id AS BIGINT) AS corpus_id,
        |  round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5""".stripMargin,

    "q_mmr_rerank" ->
      // the greedy MMR loop UNROLLED to k = 4 stages (pool selection =
      // the q_cosine_topk CTE at rnk <= 10 over vec_id < 6 queries);
      // (1 - λ) is written as CAST(1.0)-CAST(0.7) to replicate Spark's
      // lit(1.0 - lambda) double bit-for-bit before the 6-dp round
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 6),
        |c0 AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
        |sall AS (SELECT query_id, corpus_id, list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) AS sim
        |         FROM q CROSS JOIN c0 WHERE query_id <> corpus_id),
        |cand AS (SELECT CAST(query_id AS BIGINT) AS query_id, CAST(corpus_id AS BIGINT) AS corpus_id, sim AS rel
        |         FROM (SELECT query_id, corpus_id, sim,
        |                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rnk FROM sall)
        |         WHERE rnk <= 10),
        |cv AS (SELECT c.query_id, c.corpus_id, CAST(e.embedding AS DOUBLE[]) AS v
        |       FROM cand c JOIN embeddings e ON CAST(e.vec_id AS BIGINT) = c.corpus_id),
        |pair AS (SELECT a.query_id, a.corpus_id AS id_lo, b.corpus_id AS id_hi,
        |                list_cosine_similarity(a.v, b.v) AS psim
        |         FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.corpus_id < b.corpus_id),
        |s1 AS (SELECT query_id, corpus_id, 1 AS rank, score AS mmr_score FROM (
        |         SELECT query_id, corpus_id, round(CAST(0.7 AS DOUBLE) * rel, 6) AS score,
        |                row_number() OVER (PARTITION BY query_id ORDER BY round(CAST(0.7 AS DOUBLE) * rel, 6) DESC, corpus_id) AS rn
        |         FROM cand) WHERE rn = 1),
        |sel1 AS (SELECT query_id, corpus_id FROM s1),
        |rem2 AS (SELECT c.* FROM cand c ANTI JOIN sel1 s USING (query_id, corpus_id)),
        |ms2 AS (SELECT r.query_id, r.corpus_id, r.rel, max(p.psim) AS ms
        |        FROM rem2 r JOIN sel1 s ON r.query_id = s.query_id
        |        JOIN pair p ON p.query_id = r.query_id
        |          AND p.id_lo = least(r.corpus_id, s.corpus_id)
        |          AND p.id_hi = greatest(r.corpus_id, s.corpus_id)
        |        GROUP BY 1, 2, 3),
        |s2 AS (SELECT query_id, corpus_id, 2 AS rank, score AS mmr_score FROM (
        |         SELECT query_id, corpus_id,
        |                round(CAST(0.7 AS DOUBLE) * rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms, 6) AS score,
        |                row_number() OVER (PARTITION BY query_id
        |                  ORDER BY round(CAST(0.7 AS DOUBLE) * rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms, 6) DESC, corpus_id) AS rn
        |         FROM ms2) WHERE rn = 1),
        |sel2 AS (SELECT query_id, corpus_id FROM sel1 UNION ALL SELECT query_id, corpus_id FROM s2),
        |rem3 AS (SELECT c.* FROM cand c ANTI JOIN sel2 s USING (query_id, corpus_id)),
        |ms3 AS (SELECT r.query_id, r.corpus_id, r.rel, max(p.psim) AS ms
        |        FROM rem3 r JOIN sel2 s ON r.query_id = s.query_id
        |        JOIN pair p ON p.query_id = r.query_id
        |          AND p.id_lo = least(r.corpus_id, s.corpus_id)
        |          AND p.id_hi = greatest(r.corpus_id, s.corpus_id)
        |        GROUP BY 1, 2, 3),
        |s3 AS (SELECT query_id, corpus_id, 3 AS rank, score AS mmr_score FROM (
        |         SELECT query_id, corpus_id,
        |                round(CAST(0.7 AS DOUBLE) * rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms, 6) AS score,
        |                row_number() OVER (PARTITION BY query_id
        |                  ORDER BY round(CAST(0.7 AS DOUBLE) * rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms, 6) DESC, corpus_id) AS rn
        |         FROM ms3) WHERE rn = 1),
        |sel3 AS (SELECT query_id, corpus_id FROM sel2 UNION ALL SELECT query_id, corpus_id FROM s3),
        |rem4 AS (SELECT c.* FROM cand c ANTI JOIN sel3 s USING (query_id, corpus_id)),
        |ms4 AS (SELECT r.query_id, r.corpus_id, r.rel, max(p.psim) AS ms
        |        FROM rem4 r JOIN sel3 s ON r.query_id = s.query_id
        |        JOIN pair p ON p.query_id = r.query_id
        |          AND p.id_lo = least(r.corpus_id, s.corpus_id)
        |          AND p.id_hi = greatest(r.corpus_id, s.corpus_id)
        |        GROUP BY 1, 2, 3),
        |s4 AS (SELECT query_id, corpus_id, 4 AS rank, score AS mmr_score FROM (
        |         SELECT query_id, corpus_id,
        |                round(CAST(0.7 AS DOUBLE) * rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms, 6) AS score,
        |                row_number() OVER (PARTITION BY query_id
        |                  ORDER BY round(CAST(0.7 AS DOUBLE) * rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms, 6) DESC, corpus_id) AS rn
        |         FROM ms4) WHERE rn = 1)
        |SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, mmr_score FROM s1
        |UNION ALL SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, mmr_score FROM s2
        |UNION ALL SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, mmr_score FROM s3
        |UNION ALL SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, mmr_score FROM s4""".stripMargin,

    "q_ivf_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
        |s AS (SELECT query_id, corpus_id, list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) AS sim
        |      FROM q CROSS JOIN c WHERE query_id <> corpus_id),
        |r AS (SELECT query_id, corpus_id, sim,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rnk FROM s)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(corpus_id AS BIGINT) AS corpus_id,
        |  round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5""".stripMargin,

    "q_cosine_topk_scalable" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
        |s AS (SELECT query_id, corpus_id, list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) AS sim
        |      FROM q CROSS JOIN c WHERE query_id <> corpus_id),
        |r AS (SELECT query_id, corpus_id, sim,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rnk FROM s)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(corpus_id AS BIGINT) AS corpus_id,
        |  round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5""".stripMargin,

    "q_media_table" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |CAST(doc_id % 1920 + 1 AS BIGINT) AS width,
        |CAST(doc_id % 1080 + 1 AS BIGINT) AS height,
        |CAST(octet_length(encode(text)) * 100 AS BIGINT) AS duration_ms FROM documents""".stripMargin,

    "q_extract_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |CAST(octet_length(encode(text)) AS BIGINT) AS byte_len FROM documents""".stripMargin,

    "q_sample_frames" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |unnest(generate_series(0, CAST(octet_length(encode(text)) // 64 AS BIGINT))) AS frame_idx
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,

    "q_image_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |CAST(doc_id % 29 + 2 AS BIGINT) AS width,
        |CAST(doc_id % 13 + 2 AS BIGINT) AS height,
        |CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_r,
        |CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_g,
        |CAST((doc_id * 29) % 256 AS DOUBLE) AS mean_b
        |FROM documents""".stripMargin,

    "q_audio_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |CAST(8000 AS BIGINT) AS sample_rate,
        |CAST(1 AS BIGINT) AS channels,
        |CAST(800 + doc_id % 800 AS BIGINT) AS n_frames,
        |round((800 + doc_id % 800) * 1000.0 / 8000, 6) AS duration_ms,
        |CAST(1000 * (1 + doc_id % 8) AS DOUBLE) AS rms
        |FROM documents""".stripMargin,

    "q_image_dedup" ->
      """SELECT CAST(50 AS BIGINT) AS n_pairs,
        |CAST(50 AS BIGINT) AS n_planted_found,
        |CAST(0 AS BIGINT) AS max_hamming""".stripMargin,

    "q_audio_dedup" ->
      """SELECT CAST(50 AS BIGINT) AS n_pairs,
        |CAST(50 AS BIGINT) AS n_planted_found,
        |CAST(0 AS BIGINT) AS max_hamming""".stripMargin,

    "q_vad_segments" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |bursts AS (
        |  SELECT id, CAST(j AS BIGINT) AS j, 4 + ((id + 3*j) % 5) AS active
        |  FROM ids, UNNEST(range(1 + id % 3)) AS t(j)
        |),
        |pos AS (
        |  SELECT id, j, active,
        |    (2 + id % 3) + COALESCE(SUM(active + 3) OVER (PARTITION BY id
        |      ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sf
        |  FROM bursts
        |)
        |SELECT id AS media_id, j AS seg_idx, CAST(sf*10 AS BIGINT) AS start_ms,
        |  CAST((sf+active)*10 AS BIGINT) AS end_ms,
        |  CAST(active AS BIGINT) AS n_frames
        |FROM pos""".stripMargin,

    "q_vad_profile" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |bursts AS (
        |  SELECT id, CAST(j AS BIGINT) AS j, 4 + ((id + 3*j) % 5) AS active
        |  FROM ids, UNNEST(range(1 + id % 3)) AS t(j)
        |)
        |SELECT id AS media_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |  CAST(SUM(active) AS BIGINT) AS speech_frames,
        |  CAST((2 + id % 3) + SUM(active + 3) AS BIGINT) AS total_frames
        |FROM bursts GROUP BY id""".stripMargin,

    "q_aspect_buckets" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(doc_id % 29 + 2 AS BIGINT) AS width,
        |  CAST(doc_id % 13 + 2 AS BIGINT) AS height
        |  FROM documents WHERE doc_id < 500),
        |b(ord, bw, bh) AS (VALUES (1,1,1),(2,4,3),(3,3,4),(4,16,9),(5,9,16)),
        |c AS (
        |  SELECT media_id, width, height, ord, bw, bh,
        |    greatest(width*bh, height*bw) AS num, least(width*bh, height*bw) AS den
        |  FROM ids CROSS JOIN b),
        |r AS (SELECT *, row_number() OVER (PARTITION BY media_id ORDER BY CAST(num AS DOUBLE)/den, ord) AS rn FROM c)
        |SELECT media_id, width, height,
        |  CAST(bw AS BIGINT) AS bucket_w, CAST(bh AS BIGINT) AS bucket_h
        |FROM r WHERE rn = 1""".stripMargin,

    "q_aspect_batches" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(doc_id % 29 + 2 AS BIGINT) AS width,
        |  CAST(doc_id % 13 + 2 AS BIGINT) AS height
        |  FROM documents WHERE doc_id < 500),
        |b(ord, bw, bh) AS (VALUES (1,1,1),(2,4,3),(3,3,4),(4,16,9),(5,9,16)),
        |c AS (
        |  SELECT media_id, width, height, ord, bw, bh,
        |    greatest(width*bh, height*bw) AS num, least(width*bh, height*bw) AS den
        |  FROM ids CROSS JOIN b),
        |r AS (SELECT *, row_number() OVER (PARTITION BY media_id ORDER BY CAST(num AS DOUBLE)/den, ord) AS rn FROM c)
        |SELECT CAST(bw AS BIGINT) AS bucket_w, CAST(bh AS BIGINT) AS bucket_h,
        |  CAST(count(*) AS BIGINT) AS n_images,
        |  CAST(count(*) // 32 AS BIGINT) AS n_batches,
        |  CAST(count(*) % 32 AS BIGINT) AS n_leftover
        |FROM r WHERE rn = 1 GROUP BY 1, 2""".stripMargin,

    "q_resize_images" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |CAST(8 AS BIGINT) AS width,
        |CAST(6 AS BIGINT) AS height,
        |CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_r,
        |CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_g,
        |CAST((doc_id * 29) % 256 AS DOUBLE) AS mean_b
        |FROM documents""".stripMargin,

    "q_stream_distinct" ->
      """SELECT CAST((SELECT count(*) FROM (
        |    SELECT DISTINCT date_trunc('hour', ts), event_type FROM events)) AS BIGINT)
        |  AS n_windows,
        |TRUE AS windows_complete, TRUE AS within_error""".stripMargin,

    "q_tumbling" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |CAST(epoch(date_trunc('hour', ts)) AS BIGINT) + 3600 AS window_end,
        |event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_sliding" ->
      """SELECT ws AS window_start, ws + 3600 AS window_end, event_type,
        |count(*) AS n_events, round(sum(value), 6) AS sum_value FROM (
        |  SELECT CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - i * 1800 AS ws, event_type, value
        |  FROM events CROSS JOIN (VALUES (0), (1)) t(i))
        |GROUP BY 1, 2, 3""".stripMargin,

    "q_stream_exec" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |CAST(epoch(date_trunc('hour', ts)) AS BIGINT) + 3600 AS window_end,
        |event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_stream_quality" ->
      """WITH tk AS (SELECT doc_id, entropy(tok) AS te FROM (
        |    SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |      unnest(string_split(trim(text), ' ')) AS tok
        |    FROM documents WHERE len(trim(text)) > 0) GROUP BY doc_id)
        |SELECT doc_id FROM tk WHERE round(te, 6) >= 4.0""".stripMargin,

    "q_stream_decontaminate" ->
      // exact oracle, shared shape with q_decontaminate: the streaming
      // filter must reproduce the batch decontamination set exactly
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
        |ev AS (SELECT doc_id, text FROM docs WHERE doc_id < 100),
        |tr AS (SELECT t.doc_id,
        |         CASE WHEN t.doc_id < 110 AND e.text IS NOT NULL
        |              THEN t.text || ' ' || e.text ELSE t.text END AS text
        |       FROM docs t LEFT JOIN ev e ON e.doc_id = t.doc_id - 100
        |       WHERE t.doc_id >= 100),
        |grams AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 5
        |         THEN [array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)]
        |         ELSE [array_to_string(toks, ' ')] END) AS g
        |  FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks FROM tr)),
        |evg AS (
        |  SELECT list_distinct(flatten(list(g))) AS eg
        |  FROM (SELECT list_distinct(
        |    CASE WHEN len(toks) >= 5
        |         THEN [array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)]
        |         ELSE [array_to_string(toks, ' ')] END) AS g
        |  FROM (SELECT string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks FROM ev)))
        |SELECT grams.doc_id FROM grams, evg
        |WHERE len(list_intersect(grams.g, evg.eg)) < 1""".stripMargin,

    "q_stream_dedup" ->
      """SELECT CAST(0 AS BIGINT) AS n_bad_pairs,
        |CAST(0 AS BIGINT) AS n_orphan_drops,
        |TRUE AS dropped_planted, TRUE AS conserved""".stripMargin,

    "q_stream_dedup_evtime" ->
      """SELECT CAST(0 AS BIGINT) AS n_bad_pairs,
        |CAST(0 AS BIGINT) AS n_orphan_drops,
        |TRUE AS dropped_planted, TRUE AS conserved,
        |CAST(0 AS BIGINT) AS n_late_emitted""".stripMargin,

    "q_stream_dedup_fullrecall" ->
      """SELECT CAST(0 AS BIGINT) AS n_bad_pairs,
        |CAST(0 AS BIGINT) AS n_orphan_drops,
        |CAST(0 AS BIGINT) AS n_copy_survivors,
        |CAST(0 AS BIGINT) AS n_crossblock_survivors,
        |TRUE AS conserved""".stripMargin,

    "q_json_props" ->
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        |CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS k FROM events""".stripMargin,

    "q_asof_join" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hts, round(sum(value), 6) AS hourly_sum
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(e.event_id AS BIGINT) AS event_id, e.event_type, h.hourly_sum
        |FROM events e ASOF LEFT JOIN hourly h
        |  ON e.event_type = h.event_type AND e.ts >= h.hts""".stripMargin,

    "q_stream_asof" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hts, round(sum(value), 6) AS hourly_sum
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(e.event_id AS BIGINT) AS event_id, e.event_type, h.hourly_sum
        |FROM events e ASOF LEFT JOIN hourly h
        |  ON e.event_type = h.event_type AND e.ts >= h.hts""".stripMargin,

    "q_salted_join" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,

    "q_salted_join_skew" ->
      """WITH inflated AS (
        |  SELECT CASE WHEN CAST(l_orderkey AS BIGINT) % 100 < 90 THEN 1
        |              ELSE CAST(l_orderkey AS BIGINT) END AS k,
        |         l_quantity
        |  FROM lineitem CROSS JOIN range(10))
        |SELECT k % 100 AS k_bucket, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM inflated JOIN orders ON k = CAST(o_orderkey AS BIGINT)
        |GROUP BY 1""".stripMargin,

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  epoch(o_orderdate)::BIGINT AS o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,

    "q_stream_join" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hts, round(sum(value), 6) AS hourly_sum
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(e.event_id AS BIGINT) AS event_id, h.hourly_sum
        |FROM events e JOIN hourly h ON e.event_type = h.event_type
        |  AND h.hts >= e.ts - INTERVAL 1 HOUR AND h.hts <= e.ts""".stripMargin,

    "q_asof_forward" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hts, round(sum(value), 6) AS hourly_sum
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(e.event_id AS BIGINT) AS event_id, e.event_type, h.hourly_sum
        |FROM events e ASOF LEFT JOIN hourly h
        |  ON e.event_type = h.event_type AND e.ts <= h.hts""".stripMargin,

    "q_asof_nearest" ->
      // nearest = smaller time delta of the backward/forward ASOF
      // matches; equal deltas resolve backward (pandas tie rule)
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hts, round(sum(value), 6) AS hourly_sum
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT e.event_id, e.event_type, e.ts, h.hts AS bts, h.hourly_sum AS bsum
        |  FROM events e ASOF LEFT JOIN hourly h
        |    ON e.event_type = h.event_type AND e.ts >= h.hts),
        |f AS (
        |  SELECT e.event_id, h.hts AS fts, h.hourly_sum AS fsum
        |  FROM events e ASOF LEFT JOIN hourly h
        |    ON e.event_type = h.event_type AND e.ts <= h.hts)
        |SELECT CAST(b.event_id AS BIGINT) AS event_id, b.event_type,
        |  CASE WHEN bts IS NULL THEN fsum
        |       WHEN fts IS NULL THEN bsum
        |       WHEN (epoch(fts) - epoch(b.ts)) < (epoch(b.ts) - epoch(bts)) THEN fsum
        |       ELSE bsum END AS hourly_sum
        |FROM b JOIN f ON b.event_id = f.event_id""".stripMargin,

    "q_runlog" ->
      // fresh tables → reserved ids 1 and 2, two entries
      "SELECT CAST(2 AS BIGINT) AS last_run_id, CAST(2 AS BIGINT) AS n_entries",

    "q_pipeline_docs" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, toks,
        |    greatest(CAST(len(toks) AS DOUBLE), 1.0) AS safen,
        |    CAST(len(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on'], t))) AS DOUBLE) AS nstop,
        |    CAST(len(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nchar_nospace
        |  FROM base),
        |scored AS (
        |  SELECT doc_id, text, toks,
        |    round((least(CAST(len(text) AS DOUBLE) / 500.0, 1.0)
        |      + (1.0 - least(punct / greatest(CAST(len(text) AS DOUBLE), 1.0) * 4.0, 1.0))
        |      + least(nstop / safen * 4.0, 1.0)
        |      + (CASE WHEN nchar_nospace / safen BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)) / 4.0, 6) AS quality,
        |    len(list_filter(toks, t -> list_contains(['table','row','column'], t))) AS s_db,
        |    len(list_filter(toks, t -> list_contains(['the','a','of'], t))) AS s_en,
        |    len(list_filter(toks, t -> list_contains(['merge','sort','scan'], t))) AS s_ops
        |  FROM m),
        |gated AS (
        |  SELECT doc_id, text, toks, quality,
        |    CASE WHEN s_ops > greatest(s_db, s_en) THEN 'ops'
        |         WHEN s_en > s_db THEN 'en' ELSE 'db' END AS lang_guess
        |  FROM scored WHERE quality >= 0.5),
        |deduped AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) ORDER BY doc_id) AS rn
        |    FROM gated) WHERE rn = 1)
        |SELECT lang_guess, count(*) AS n_docs, round(avg(quality), 6) AS avg_quality,
        |  CAST(sum(len(toks)) AS BIGINT) AS total_tokens
        |FROM deduped GROUP BY lang_guess""".stripMargin,

    "q_session" ->
      """WITH flagged AS (
        |  SELECT event_type, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY event_type ORDER BY ts) IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY event_type ORDER BY ts)) > 1800
        |         THEN 1 ELSE 0 END AS newsess
        |  FROM events),
        |sess AS (SELECT *, sum(newsess) OVER (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM flagged)
        |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end,
        |event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM sess GROUP BY event_type, sid""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT word, count(*) AS df_docs FROM tf GROUP BY 1 HAVING count(*) >= 1)
        |SELECT tf.doc_id, tf.word, tf.tf, dfreq.df_docs,
        |  round(tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE / dfreq.df_docs), 6) AS tfidf
        |FROM tf JOIN dfreq USING (word)""".stripMargin,

    "q_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM toks),
        |stats AS (SELECT avg(dl) AS avgdl, count(*)::DOUBLE AS n FROM dl),
        |post AS (
        |  SELECT doc_id, word, count(*)::DOUBLE AS tf FROM (
        |    SELECT doc_id, unnest(t) AS word FROM toks) WHERE word IN ('dup', 'vector', 'scan')
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT word, count(*)::DOUBLE AS dfd FROM post GROUP BY 1)
        |SELECT doc_id, round(sum(
        |    ln(1 + (stats.n - dfreq.dfd + 0.5) / (dfreq.dfd + 0.5))
        |    * post.tf * 2.2 / (post.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS score
        |FROM post JOIN dfreq USING (word) JOIN dl USING (doc_id), stats
        |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_hybrid_search" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM toks),
        |stats AS (SELECT avg(dl) AS avgdl, count(*)::DOUBLE AS n FROM dl),
        |post AS (
        |  SELECT doc_id, word, count(*)::DOUBLE AS tf FROM (
        |    SELECT doc_id, unnest(t) AS word FROM toks) WHERE word IN ('dup', 'vector', 'scan')
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT word, count(*)::DOUBLE AS dfd FROM post GROUP BY 1),
        |lex0 AS (
        |  SELECT doc_id, round(sum(
        |      ln(1 + (stats.n - dfreq.dfd + 0.5) / (dfreq.dfd + 0.5))
        |      * post.tf * 2.2 / (post.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS score
        |  FROM post JOIN dfreq USING (word) JOIN dl USING (doc_id), stats
        |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
        |lex AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM lex0),
        |sem0 AS (
        |  SELECT vec_id AS doc_id, round(list_cosine_similarity(
        |    CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
        |  FROM embeddings ORDER BY score DESC, doc_id LIMIT 20),
        |sem AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM sem0),
        |fused AS (
        |  SELECT doc_id, 1.0 / (60 + rnk) AS contrib FROM lex
        |  UNION ALL SELECT doc_id, 1.0 / (60 + rnk) FROM sem)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, round(sum(contrib), 6) AS rrf_score,
        |  CAST(row_number() OVER (ORDER BY round(sum(contrib), 6) DESC, doc_id) AS INT) AS rank
        |FROM fused GROUP BY doc_id ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin,

    "q_inverted_index" ->
      """WITH pairs AS (
        |  SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
        |    FROM documents)),
        |idx AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS df_docs,
        |    md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS postings_md5
        |  FROM pairs GROUP BY word)
        |SELECT * FROM idx
        |WHERE df_docs >= 30 AND df_docs <= CAST(floor((SELECT count(*) FROM documents) * 0.79) AS BIGINT)""".stripMargin,

    "q_bigram_pmi" ->
      """WITH t AS (
        |  SELECT string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |big AS (
        |  SELECT unnest([toks[i] || ' ' || toks[i+1] FOR i IN generate_series(1, greatest(len(toks)-1, 0))]) AS bigram
        |  FROM t),
        |uni AS (
        |  SELECT word, count(*)::DOUBLE AS c FROM (SELECT unnest(toks) AS word FROM t) GROUP BY 1),
        |tot AS (SELECT count(*)::DOUBLE AS nb FROM big),
        |totu AS (SELECT sum(c) AS nu FROM uni),
        |bc AS (
        |  SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2, count(*) AS n
        |  FROM big GROUP BY 1, 2 HAVING count(*) >= 20)
        |SELECT w1, w2, n,
        |  round(ln((n / tot.nb) / ((u1.c / totu.nu) * (u2.c / totu.nu))), 6) AS pmi
        |FROM bc, tot, totu
        |JOIN uni u1 ON bc.w1 = u1.word
        |JOIN uni u2 ON bc.w2 = u2.word""".stripMargin,

    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT doc_id, CAST((u.s - 1) / 12 AS BIGINT) AS chunk_id,
        |  CAST(len(toks[u.s : u.s + 15]) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[u.s : u.s + 15], ' ') AS chunk_text
        |FROM t, unnest(generate_series(1, greatest(len(toks) - 4, 1), 12)) AS u(s)""".stripMargin,

    "q_fuzzy_join" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
        |FROM n a JOIN n b ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 3
        |  AND levenshtein(a.p_name, b.p_name) <= 3 AND a.p_name < b.p_name""".stripMargin,

    "q_gap_fill" ->
      """WITH b AS (
        |  SELECT event_type, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start,
        |    count(*) AS n_events, round(sum(value), 6) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |sp AS (
        |  SELECT event_type, unnest(generate_series(min(bucket_start), max(bucket_start), 3600)) AS bucket_start
        |  FROM b GROUP BY event_type),
        |f AS (SELECT sp.event_type, sp.bucket_start, b.n_events, b.sum_value
        |      FROM sp LEFT JOIN b USING (event_type, bucket_start))
        |SELECT event_type, bucket_start, coalesce(n_events, 0) AS n_events,
        |  coalesce(sum_value, 0.0) AS sum_value,
        |  last_value(sum_value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket_start
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
        |FROM f""".stripMargin,

    "q_scd2" ->
      """WITH m AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
        |    lag(o_orderstatus) OVER w AS prev
        |  FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |c AS (SELECT * FROM m WHERE prev IS NULL OR prev IS DISTINCT FROM o_orderstatus)
        |SELECT CAST(o_custkey AS BIGINT) AS o_custkey, o_orderstatus, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER w2 AS valid_to,
        |  lead(o_orderdate) OVER w2 IS NULL AS is_current
        |FROM c WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q_rolling" ->
      """SELECT event_type, CAST(event_id AS BIGINT) AS event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |  count(*) OVER w AS n_win,
        |  round(sum(value) OVER w, 6) AS sum_win
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_session_leaders" ->
      """WITH m AS (SELECT event_id, user_id, event_type,
        |  lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |  floor(epoch(ts)) AS e
        |FROM events)
        |SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS BIGINT) AS user_id, event_type
        |FROM m WHERE prev IS NULL OR e - prev > 1800""".stripMargin,

    "q_winsorize" ->
      """WITH b AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.05) AS lo,
        |  quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, l.l_extendedprice,
        |  round(least(greatest(l.l_extendedprice, lo), hi), 6) AS l_extendedprice_wins
        |FROM lineitem l JOIN b USING (l_returnflag)""".stripMargin,

    "q_anomaly" ->
      """WITH m AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd FROM events GROUP BY 1),
        |z AS (SELECT CAST(event_id AS BIGINT) AS event_id, e.event_type,
        |  CASE WHEN sd IS NULL OR sd = 0 THEN 0.0 ELSE round((value - mu) / sd, 6) END AS z
        |  FROM events e JOIN m USING (event_type))
        |SELECT event_id, event_type, z, abs(z) > 3.0 AS is_outlier FROM z""".stripMargin,

    "q_transitions" ->
      """WITH p AS (SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state FROM events),
        |c AS (SELECT from_state, to_state, count(*) AS n FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        |  round(n::DOUBLE / sum(n) OVER (PARTITION BY from_state), 6) AS p FROM c""".stripMargin,

    "q_retention" ->
      """WITH b AS (SELECT user_id, CAST(floor(epoch(ts) / 604800) * 604800 AS BIGINT) AS bucket FROM events),
        |c AS (SELECT user_id, bucket, min(bucket) OVER (PARTITION BY user_id) AS cohort_start FROM b),
        |d AS (SELECT DISTINCT user_id, cohort_start,
        |  CAST((bucket - cohort_start) / 604800 AS BIGINT) AS "offset" FROM c)
        |SELECT cohort_start, "offset", count(*) AS n_active FROM d GROUP BY 1, 2""".stripMargin,

    "q_funnel" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type AS s FROM events),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE s = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id) WHERE s = 'view' AND t > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id) WHERE s = 'purchase' AND t > t2 GROUP BY 1)
        |SELECT 1 AS step, 'signup' AS step_name, (SELECT count(*) FROM s1) AS n_entities
        |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin,

    "q_crosstab" ->
      """SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q_histogram" ->
      """WITH s AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem),
        |b AS (SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / 20)), 19) AS BIGINT) AS bin
        |      FROM lineitem, s WHERE l_extendedprice >= lo AND l_extendedprice <= hi)
        |SELECT bin, round(lo + bin * ((hi - lo) / 20), 6) AS bin_lo,
        |  round(lo + (bin + 1) * ((hi - lo) / 20), 6) AS bin_hi, count(*) AS n
        |FROM b, s GROUP BY bin, lo, hi""".stripMargin,

    "q_profile" ->
      """SELECT 'l_quantity' AS "column", count(l_quantity) AS n,
        |  count(*) - count(l_quantity) AS n_null, count(DISTINCT l_quantity) AS n_distinct,
        |  min(l_quantity::DOUBLE) AS min, max(l_quantity::DOUBLE) AS max,
        |  round(avg(l_quantity), 6) AS mean, round(stddev_samp(l_quantity), 6) AS std FROM lineitem
        |UNION ALL
        |SELECT 'l_discount', count(l_discount), count(*) - count(l_discount), count(DISTINCT l_discount),
        |  min(l_discount::DOUBLE), max(l_discount::DOUBLE), round(avg(l_discount), 6), round(stddev_samp(l_discount), 6) FROM lineitem
        |UNION ALL
        |SELECT 'l_tax', count(l_tax), count(*) - count(l_tax), count(DISTINCT l_tax),
        |  min(l_tax::DOUBLE), max(l_tax::DOUBLE), round(avg(l_tax), 6), round(stddev_samp(l_tax), 6) FROM lineitem""".stripMargin,

    "q_assign_ids" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id
        |FROM orders""".stripMargin,

    "q_expectations" ->
      """SELECT 'not_null' AS "check", 'l_quantity' AS "column",
        |  round(CAST(count(l_quantity) AS DOUBLE)/count(*), 6) AS metric,
        |  round(CAST(count(l_quantity) AS DOUBLE)/count(*), 6) >= 1.0 AS passed FROM lineitem
        |UNION ALL SELECT 'unique', 'l_orderkey',
        |  round(CAST(count(DISTINCT l_orderkey) AS DOUBLE)/count(l_orderkey), 6),
        |  round(CAST(count(DISTINCT l_orderkey) AS DOUBLE)/count(l_orderkey), 6) = 1.0 FROM lineitem
        |UNION ALL SELECT 'between', 'l_discount',
        |  round(sum(CASE WHEN l_discount IS NOT NULL AND l_discount >= 0.0 AND l_discount <= 0.1 THEN 1.0 ELSE 0.0 END)/count(l_discount), 6),
        |  round(sum(CASE WHEN l_discount IS NOT NULL AND l_discount >= 0.0 AND l_discount <= 0.1 THEN 1.0 ELSE 0.0 END)/count(l_discount), 6) >= 1.0 FROM lineitem
        |UNION ALL SELECT 'matches', 'l_linestatus',
        |  round(sum(CASE WHEN l_linestatus IS NOT NULL AND regexp_matches(l_linestatus, '^[OF]$') THEN 1.0 ELSE 0.0 END)/count(l_linestatus), 6),
        |  round(sum(CASE WHEN l_linestatus IS NOT NULL AND regexp_matches(l_linestatus, '^[OF]$') THEN 1.0 ELSE 0.0 END)/count(l_linestatus), 6) >= 1.0 FROM lineitem
        |UNION ALL SELECT 'in_set', 'l_returnflag',
        |  round(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1.0 ELSE 0.0 END)/count(l_returnflag), 6),
        |  round(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1.0 ELSE 0.0 END)/count(l_returnflag), 6) >= 1.0 FROM lineitem
        |UNION ALL SELECT 'min_rows', '*',
        |  round(CAST(count(*) AS DOUBLE), 6), count(*) >= 1000 FROM lineitem
        |UNION ALL SELECT 'mean_between', 'l_quantity',
        |  round(avg(l_quantity), 6),
        |  round(avg(l_quantity), 6) >= 20.0 AND round(avg(l_quantity), 6) <= 30.0 FROM lineitem""".stripMargin,

    "q_drift_cat" ->
      """WITH ref AS (SELECT o_orderpriority AS category, count(*) AS n_ref
        |  FROM orders WHERE o_orderdate < DATE '1995-01-01' GROUP BY 1),
        |cur AS (SELECT o_orderpriority AS category, count(*) AS n_cur
        |  FROM orders WHERE o_orderdate >= DATE '1995-01-01' GROUP BY 1),
        |j AS (SELECT coalesce(ref.category, cur.category) AS category,
        |  coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |  FROM ref FULL OUTER JOIN cur ON ref.category = cur.category),
        |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc, count(*) AS k FROM j)
        |SELECT category, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
        |  round((n_ref + 1e-6)/(tr + k*1e-6), 6) AS p_ref,
        |  round((n_cur + 1e-6)/(tc + k*1e-6), 6) AS p_cur,
        |  round(((n_cur + 1e-6)/(tc + k*1e-6) - (n_ref + 1e-6)/(tr + k*1e-6))
        |    * ln(((n_cur + 1e-6)/(tc + k*1e-6))/((n_ref + 1e-6)/(tr + k*1e-6))), 6) AS psi_term,
        |  round(((n_cur + 1e-6)/(tc + k*1e-6))
        |    * ln(((n_cur + 1e-6)/(tc + k*1e-6))/((n_ref + 1e-6)/(tr + k*1e-6))), 6) AS kl_term
        |FROM j, t""".stripMargin,

    "q_drift_num" ->
      """WITH b AS (SELECT CAST(CAST(least(greatest(floor(o_totalprice/75000.0), 0.0), 7.0) AS BIGINT) AS VARCHAR) AS category,
        |  o_orderdate FROM orders WHERE o_totalprice IS NOT NULL),
        |ref AS (SELECT category, count(*) AS n_ref FROM b WHERE o_orderdate < DATE '1995-01-01' GROUP BY 1),
        |cur AS (SELECT category, count(*) AS n_cur FROM b WHERE o_orderdate >= DATE '1995-01-01' GROUP BY 1),
        |j AS (SELECT coalesce(ref.category, cur.category) AS category,
        |  coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |  FROM ref FULL OUTER JOIN cur ON ref.category = cur.category),
        |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc, count(*) AS k FROM j)
        |SELECT category, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
        |  round((n_ref + 1e-6)/(tr + k*1e-6), 6) AS p_ref,
        |  round((n_cur + 1e-6)/(tc + k*1e-6), 6) AS p_cur,
        |  round(((n_cur + 1e-6)/(tc + k*1e-6) - (n_ref + 1e-6)/(tr + k*1e-6))
        |    * ln(((n_cur + 1e-6)/(tc + k*1e-6))/((n_ref + 1e-6)/(tr + k*1e-6))), 6) AS psi_term,
        |  round(((n_cur + 1e-6)/(tc + k*1e-6))
        |    * ln(((n_cur + 1e-6)/(tc + k*1e-6))/((n_ref + 1e-6)/(tr + k*1e-6))), 6) AS kl_term
        |FROM j, t""".stripMargin,

    "q_drift_summary" ->
      """WITH ref AS (SELECT o_orderpriority AS category, count(*) AS n_ref
        |  FROM orders WHERE o_orderdate < DATE '1995-01-01' GROUP BY 1),
        |cur AS (SELECT o_orderpriority AS category, count(*) AS n_cur
        |  FROM orders WHERE o_orderdate >= DATE '1995-01-01' GROUP BY 1),
        |j AS (SELECT coalesce(ref.category, cur.category) AS category,
        |  coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |  FROM ref FULL OUTER JOIN cur ON ref.category = cur.category),
        |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc, count(*) AS k FROM j),
        |per AS (SELECT category, n_cur,
        |  round((n_ref + 1e-6)/(tr + k*1e-6), 6) AS p_ref,
        |  round(((n_cur + 1e-6)/(tc + k*1e-6) - (n_ref + 1e-6)/(tr + k*1e-6))
        |    * ln(((n_cur + 1e-6)/(tc + k*1e-6))/((n_ref + 1e-6)/(tr + k*1e-6))), 6) AS psi_term,
        |  round(((n_cur + 1e-6)/(tc + k*1e-6))
        |    * ln(((n_cur + 1e-6)/(tc + k*1e-6))/((n_ref + 1e-6)/(tr + k*1e-6))), 6) AS kl_term
        |  FROM j, t),
        |tc2 AS (SELECT sum(n_cur) AS total_cur FROM per)
        |SELECT round(sum(psi_term), 6) AS psi,
        |  round(sum(kl_term), 6) AS kl_divergence,
        |  round(sum(pow(n_cur - total_cur*p_ref, 2)/(total_cur*p_ref)), 6) AS chi2,
        |  CAST(count(*) AS BIGINT) AS n_categories
        |FROM per, tc2""".stripMargin,

    "q_heavy_hitters" ->
      """WITH d AS (SELECT CASE WHEN l_orderkey % 10 < 3
        |    THEN 'hot_' || CAST(l_orderkey % 3 AS VARCHAR)
        |    ELSE 'cold_' || CAST(l_orderkey AS VARCHAR) END AS item FROM lineitem),
        |ex AS (SELECT item, count(*) AS c FROM d GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM d)
        |SELECT TRUE AS within_k,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ex, t WHERE c > n/17.0) AS n_heavy,
        |  CAST(0 AS BIGINT) AS n_heavy_missing,
        |  CAST(0 AS BIGINT) AS overcount_violations,
        |  CAST(0 AS BIGINT) AS bound_violations""".stripMargin,

    "q_join_cardinality" ->
      """WITH c AS (SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, count(*) AS n
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, CAST(n AS BIGINT) AS n_left, CAST(n AS BIGINT) AS n_right,
        |  CAST(n*n AS BIGINT) AS out_rows
        |FROM c ORDER BY out_rows DESC, l_orderkey LIMIT 20""".stripMargin,

    "q_impute" ->
      """WITH d AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS price
        |  FROM orders)
        |SELECT o_orderkey, o_orderpriority,
        |  round(coalesce(price, avg(price) OVER (PARTITION BY o_orderpriority)), 6)
        |    AS price_imputed
        |FROM d""".stripMargin,

    "q_qcut" ->
      """WITH b AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
        |  quantile_cont(o_totalprice, 0.5) AS q2,
        |  quantile_cont(o_totalprice, 0.75) AS q3 FROM orders)
        |SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST((CASE WHEN o_totalprice > q1 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > q2 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > q3 THEN 1 ELSE 0 END) AS INT) AS bucket
        |FROM orders, b""".stripMargin,

    "q_topk_group" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
        |FROM orders QUALIFY rnk <= 5""".stripMargin,

    "q_argmax_group" ->
      """SELECT o_orderpriority, CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  o_totalprice, o_orderdate
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey DESC) = 1""".stripMargin,

    "q_pivot_wide" ->
      """SELECT l_returnflag,
        |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
        |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q_freq_encode" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS o_orderpriority_freq
        |FROM orders""".stripMargin,

    "q_target_encode" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority, o_totalprice,
        |  round((sum(o_totalprice) OVER (PARTITION BY o_orderpriority)
        |      + 20.0 * avg(o_totalprice) OVER ())
        |    / (count(o_totalprice) OVER (PARTITION BY o_orderpriority) + 20.0), 6)
        |    AS o_orderpriority_enc
        |FROM orders""".stripMargin,

    "q_stream_hh" ->
      """WITH d AS (SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
        |    AS window_start,
        |  CASE WHEN user_id % 10 < 3 THEN 'hot_' || CAST(user_id % 3 AS VARCHAR)
        |       ELSE 'cold_' || CAST(user_id AS VARCHAR) END AS item FROM events),
        |ex AS (SELECT window_start, item, count(*) AS c FROM d GROUP BY 1, 2),
        |t AS (SELECT window_start, sum(c) AS n FROM ex GROUP BY 1)
        |SELECT t.window_start, CAST(t.n AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN ex.c > t.n / 17.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_heavy,
        |  CAST(0 AS BIGINT) AS n_heavy_missing,
        |  CAST(0 AS BIGINT) AS overcount_violations,
        |  CAST(0 AS BIGINT) AS bound_violations
        |FROM ex JOIN t USING (window_start)
        |GROUP BY 1, 2""".stripMargin,

    "q_sorted_neighborhood" ->
      """WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS id, p_name FROM part
        |    WHERE p_partkey % 10 = 0),
        |r AS (SELECT id, p_name,
        |    row_number() OVER (ORDER BY p_name, id) AS rn FROM p)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 9) AS jw
        |FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 2""".stripMargin,

    "q_cdc_apply" ->
      """WITH snap AS (SELECT CAST(o_orderkey AS BIGINT) AS id,
        |    o_orderpriority AS priority, o_totalprice AS price FROM orders)
        |SELECT id, priority,
        |  CASE WHEN id % 5 = 0 THEN price + 1000.0 ELSE price END AS price
        |FROM snap WHERE id % 35 <> 0
        |UNION ALL
        |SELECT id + 2000000, priority, 42.0 FROM snap WHERE id % 11 = 0"""
        .stripMargin,

    "q_link_records" ->
      """WITH a AS (SELECT CAST(p_partkey AS BIGINT) AS id, p_name, p_type,
        |    substr(p_name, 1, 3) AS blk FROM part WHERE p_partkey % 10 = 0),
        |b AS (SELECT id + 1000000 AS id,
        |    substr(p_name, 1, len(p_name) - 1) AS p_name, p_type, blk FROM a)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round((0.7 * jaro_winkler_similarity(a.p_name, b.p_name)
        |       + 0.3 * jaro_winkler_similarity(a.p_type, b.p_type)) / 1.0, 9)
        |    AS score
        |FROM a JOIN b ON a.blk = b.blk
        |WHERE (0.7 * jaro_winkler_similarity(a.p_name, b.p_name)
        |     + 0.3 * jaro_winkler_similarity(a.p_type, b.p_type)) / 1.0 >= 0.9"""
        .stripMargin,

    "q_perplexity" ->
      """WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    unnest(regexp_split_to_array(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
        |  FROM documents WHERE len(trim(text)) > 0),
        |dt AS (SELECT doc_id, word, count(*) AS nd FROM toks GROUP BY 1, 2),
        |vocab AS (SELECT word, sum(nd) AS c FROM dt GROUP BY 1),
        |st AS (SELECT sum(c) AS n, count(*) AS v FROM vocab),
        |sc AS (SELECT doc_id, CAST(sum(nd) AS BIGINT) AS n_tokens,
        |    round(exp(-sum(nd * ln((c + 1.0) / (n + 1.0 * v))) / sum(nd)), 6)
        |      AS perplexity
        |  FROM dt JOIN vocab USING (word) CROSS JOIN st GROUP BY 1)
        |SELECT d.doc_id, sc.n_tokens, sc.perplexity
        |FROM (SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d
        |LEFT JOIN sc USING (doc_id)""".stripMargin,

    "q_ks_drift" ->
      """WITH r AS (SELECT o_totalprice AS v FROM orders
        |    WHERE o_orderpriority = '1-URGENT'),
        |c AS (SELECT o_totalprice AS v FROM orders
        |    WHERE o_orderpriority = '2-HIGH'),
        |g AS (SELECT v, sum(nr) AS nr, sum(nc) AS nc FROM (
        |    SELECT v, 1 AS nr, 0 AS nc FROM r
        |    UNION ALL SELECT v, 0, 1 FROM c) u GROUP BY v),
        |cum AS (SELECT v, sum(nr) OVER (ORDER BY v) AS cr,
        |    sum(nc) OVER (ORDER BY v) AS cc FROM g),
        |t AS (SELECT (SELECT count(*) FROM r) AS tr,
        |    (SELECT count(*) FROM c) AS tc)
        |SELECT CAST(tr AS BIGINT) AS n_ref, CAST(tc AS BIGINT) AS n_cur,
        |  round(max(abs(cr / CAST(tr AS DOUBLE) - cc / CAST(tc AS DOUBLE))), 9)
        |    AS ks_stat
        |FROM cum, t GROUP BY tr, tc""".stripMargin,

    "q_agg_state" ->
      """SELECT o_orderpriority,
        |  CAST(count(o_totalprice) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS sum_v,
        |  min(o_totalprice) AS min_v,
        |  max(o_totalprice) AS max_v,
        |  round(sum(o_totalprice) / count(o_totalprice), 6) AS mean_v,
        |  CAST(0 AS BIGINT) AS distinct_violation
        |FROM orders GROUP BY 1""".stripMargin,

    "q_corr_matrix" ->
      """SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
        |UNION ALL SELECT 'l_quantity', 'l_discount',
        |  round(corr(l_quantity, l_discount), 6) FROM lineitem
        |UNION ALL SELECT 'l_quantity', 'l_tax',
        |  round(corr(l_quantity, l_tax), 6) FROM lineitem
        |UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |  round(corr(l_extendedprice, l_discount), 6) FROM lineitem
        |UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |  round(corr(l_extendedprice, l_tax), 6) FROM lineitem
        |UNION ALL SELECT 'l_discount', 'l_tax',
        |  round(corr(l_discount, l_tax), 6) FROM lineitem""".stripMargin,

    "q_weighted_sample_group" ->
      """WITH w AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |    o_orderpriority, o_totalprice,
        |  -ln((('0x' || substr(md5(CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR)),
        |        1, 8))::BIGINT + 1.0) / 4294967296.0) / o_totalprice AS k
        |  FROM orders WHERE o_totalprice > 0)
        |SELECT o_orderkey, o_orderpriority, o_totalprice FROM w
        |QUALIFY row_number() OVER (PARTITION BY o_orderpriority
        |  ORDER BY k, o_orderkey) <= 50""".stripMargin,

    "q_weighted_sample" ->
      """WITH w AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice,
        |  -ln((('0x' || substr(md5(CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR)),
        |        1, 8))::BIGINT + 1.0) / 4294967296.0) / o_totalprice AS k
        |  FROM orders WHERE o_totalprice > 0)
        |SELECT o_orderkey, o_totalprice FROM w
        |ORDER BY k, o_orderkey LIMIT 200""".stripMargin,

    "q_jaro_sim" ->
      """WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k, p_name,
        |  substr(p_name, 1, 3) AS blk FROM part WHERE p_partkey % 10 = 0)
        |SELECT a.k AS key_a, b.k AS key_b,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 9) AS jw
        |FROM p a JOIN p b ON a.blk = b.blk AND a.k < b.k
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.93""".stripMargin,

    "q_hll_merge" ->
      """SELECT o_orderpriority,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
        |  CAST(0 AS BIGINT) AS rel_err_violation
        |FROM orders GROUP BY 1""".stripMargin,

    "q_snapshot_diff" ->
      """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
        |nw AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM docs WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM docs WHERE doc_id % 11 = 0)
        |SELECT coalesce(docs.doc_id, nw.doc_id) AS doc_id,
        |  CASE WHEN docs.doc_id IS NULL THEN 'added'
        |       WHEN nw.doc_id IS NULL THEN 'removed'
        |       WHEN docs.text = nw.text OR (docs.text IS NULL AND nw.text IS NULL)
        |         THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM docs FULL OUTER JOIN nw ON docs.doc_id = nw.doc_id""".stripMargin,

    "q_stream_drift" ->
      """WITH ref AS (SELECT event_type AS category, count(*) AS nr
        |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1),
        |reft AS (SELECT sum(nr) AS tr, count(*) AS kk FROM ref),
        |refp AS (SELECT category, (nr + 1e-6)/(tr + kk*1e-6) AS p_ref FROM ref, reft),
        |cur AS (SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS window_start,
        |    event_type AS category, count(*) AS n
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1, 2),
        |wins AS (SELECT DISTINCT window_start FROM cur),
        |grid AS (SELECT window_start, category, p_ref FROM wins CROSS JOIN refp),
        |j AS (SELECT g.window_start, g.category, g.p_ref, coalesce(cur.n, 0) AS n
        |  FROM grid g LEFT JOIN cur
        |    ON g.window_start = cur.window_start AND g.category = cur.category),
        |tot AS (SELECT window_start, sum(n) AS t, count(*) AS kk FROM j GROUP BY 1)
        |SELECT j.window_start,
        |  round(sum(((n + 1e-6)/(t + kk*1e-6) - p_ref)
        |    * ln(((n + 1e-6)/(t + kk*1e-6))/p_ref)), 6) AS psi,
        |  CAST(sum(n) AS BIGINT) AS n_events
        |FROM j JOIN tot USING(window_start) GROUP BY j.window_start""".stripMargin,

    "q_stream_debounce" ->
      """WITH m AS (SELECT event_id, user_id, event_type,
        |  lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |  floor(epoch(ts)) AS e
        |FROM events)
        |SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS BIGINT) AS user_id, event_type
        |FROM m WHERE prev IS NULL OR e - prev > 1800""".stripMargin,

    "q_sessionize" ->
      """WITH m AS (SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(floor(epoch(ts))) OVER w IS NULL
        |       OR floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > 1800
        |       THEN 1 ELSE 0 END AS newsess
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, value,
        |  CAST(sum(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id FROM m)
        |SELECT CAST(user_id AS BIGINT) AS user_id, session_id,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q_scd2_merge" ->
      """WITH m AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
        |    lag(o_orderstatus) OVER w AS prev
        |  FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |c AS (SELECT * FROM m WHERE prev IS NULL OR prev IS DISTINCT FROM o_orderstatus)
        |SELECT CAST(o_custkey AS BIGINT) AS o_custkey, o_orderstatus, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER w2 AS valid_to,
        |  lead(o_orderdate) OVER w2 IS NULL AS is_current
        |FROM c WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q_zorder" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, l_extendedprice, l_quantity
        |FROM lineitem
        |WHERE l_extendedprice >= 20000 AND l_extendedprice < 40000
        |  AND l_quantity >= 10 AND l_quantity < 20""".stripMargin,

    // ---------------------------------------------- HTML extraction
    // The oracle replays Html.stripHtml's exact regex chain (RE2-safe
    // by construction) over the identically-constructed page string.
    "q_html_strip" ->
      (htmlOracleCtes +
        "\nSELECT doc_id, stripped FROM s"),

    "q_html_extract" ->
      (htmlOracleCtes + """,
        |x AS (SELECT h.doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_extract(h.html, '(?si)<title[^>]*>(.*?)</title>', 1),
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', chr(39)), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS title,
        |  round(least((14.0 + len(CAST(h.doc_id AS VARCHAR))) /
        |    CAST(len(s.stripped) AS DOUBLE), CAST(1 AS DOUBLE)), 6)
        |    AS link_density,
        |  array_to_string(list_filter(string_split(s.stripped, chr(10)),
        |    l -> (len(string_split(trim(l), ' ')) >= 5
        |          OR regexp_matches(trim(l), '[.!?:"]$'))
        |         AND len(trim(l)) > 0), chr(10)) AS text_extracted
        |  FROM h JOIN s USING (doc_id))
        |SELECT doc_id, title, link_density, text_extracted FROM x""".stripMargin),

    // ------------------------------------------- Gopher quality gates
    "q_gopher_flags" ->
      (gopherFlagsCtes +
        """
        |SELECT doc_id, r_word_count, r_mean_word_len, r_symbol_ratio,
        |  r_alpha_words, r_bullet_lines, r_ellipsis_lines, r_stopwords,
        |  (r_word_count AND r_mean_word_len AND r_symbol_ratio AND
        |   r_alpha_words AND r_bullet_lines AND r_ellipsis_lines AND
        |   r_stopwords) AS gopher_pass
        |FROM f""".stripMargin),

    "q_gopher_report" ->
      (gopherFlagsCtes +
        """
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN NOT r_word_count THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
        |  CAST(sum(CASE WHEN NOT r_mean_word_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
        |  CAST(sum(CASE WHEN NOT r_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol_ratio,
        |  CAST(sum(CASE WHEN NOT r_alpha_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_words,
        |  CAST(sum(CASE WHEN NOT r_bullet_lines THEN 1 ELSE 0 END) AS BIGINT) AS fail_bullet_lines,
        |  CAST(sum(CASE WHEN NOT r_ellipsis_lines THEN 1 ELSE 0 END) AS BIGINT) AS fail_ellipsis_lines,
        |  CAST(sum(CASE WHEN NOT r_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
        |  round(avg(CASE WHEN (r_word_count AND r_mean_word_len AND
        |    r_symbol_ratio AND r_alpha_words AND r_bullet_lines AND
        |    r_ellipsis_lines AND r_stopwords)
        |    THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6) AS pass_rate
        |FROM f""".stripMargin),

    // ------------------------------------ k-anonymity / l-diversity
    "q_k_anonymity" ->
      """WITH cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS k
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(min(k) AS BIGINT) AS dataset_k,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN k < 12 THEN 1 ELSE 0 END) AS BIGINT) AS violating_classes,
        |  CAST(sum(CASE WHEN k < 12 THEN k ELSE 0 END) AS BIGINT) AS violating_rows,
        |  round(CAST(sum(CASE WHEN k < 12 THEN k ELSE 0 END) AS DOUBLE) /
        |    CAST(sum(k) AS DOUBLE), 6) AS suppression_frac
        |FROM cls""".stripMargin,

    "q_k_suppress" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey FROM (
        |  SELECT c_custkey,
        |    count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS k
        |  FROM customer)
        |WHERE k >= 12""".stripMargin,

    "q_l_diversity" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey FROM supplier
        |WHERE s_nationkey IN (
        |  SELECT s_nationkey FROM (
        |    SELECT s_nationkey, count(DISTINCT s_acctbal) AS l
        |    FROM supplier GROUP BY 1)
        |  WHERE l < 2)""".stripMargin,

    // ------------------------------------------- filter calibration
    "q_calibration_bins" ->
      (calibrationBinsCtes +
        "\nSELECT bin, n, mean_score, frac_positive FROM bins ORDER BY bin"),

    "q_ece" ->
      (calibrationBinsCtes + """
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |  round(sum(CAST(n AS DOUBLE) * abs(mean_score - frac_positive)) /
        |    sum(CAST(n AS DOUBLE)), 6) AS ece,
        |  round(max(abs(mean_score - frac_positive)), 6) AS max_bin_gap
        |FROM bins""".stripMargin),

    // --------------------- annotator agreement + model ranking
    "q_cohen_kappa" ->
      """WITH r AS (SELECT
        |  'l' || CAST(doc_id % 3 AS VARCHAR) AS a,
        |  'l' || CAST(CASE WHEN doc_id % 5 = 0 THEN (doc_id + 1) % 3
        |    ELSE doc_id % 3 END AS VARCHAR) AS b
        |  FROM documents),
        |cells AS (SELECT a, b, count(*) AS n FROM r GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_items,
        |  CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS agree
        |  FROM cells),
        |pe AS (SELECT CAST(sum(na * nb) AS BIGINT) AS pe_num FROM
        |  (SELECT a AS lbl, sum(n) AS na FROM cells GROUP BY 1) x JOIN
        |  (SELECT b AS lbl, sum(n) AS nb FROM cells GROUP BY 1) y USING (lbl))
        |SELECT n_items,
        |  round(CAST(agree AS DOUBLE) / n_items, 6) AS observed_agreement,
        |  round(CAST(pe_num AS DOUBLE) / (n_items * n_items), 6) AS expected_agreement,
        |  round(CASE WHEN CAST(pe_num AS DOUBLE) = CAST(n_items * n_items AS DOUBLE)
        |    THEN CAST(0 AS DOUBLE)
        |    ELSE (CAST(agree AS DOUBLE) / n_items -
        |          CAST(pe_num AS DOUBLE) / (n_items * n_items)) /
        |         (CAST(1 AS DOUBLE) -
        |          CAST(pe_num AS DOUBLE) / (n_items * n_items)) END, 6) AS kappa
        |FROM tot CROSS JOIN pe""".stripMargin,

    "q_win_rates" ->
      (btBattlesCte + """,
        |e AS (SELECT ma AS model, CASE WHEN w = 'a' THEN 1 ELSE 0 END AS won FROM b
        |  UNION ALL
        |  SELECT mb, CASE WHEN w = 'b' THEN 1 ELSE 0 END FROM b)
        |SELECT model, CAST(count(*) AS BIGINT) AS n_battles,
        |  CAST(sum(won) AS BIGINT) AS n_wins,
        |  round(CAST(sum(won) AS DOUBLE) / count(*), 6) AS win_rate
        |FROM e GROUP BY 1 ORDER BY model""".stripMargin),

    "q_bt_scores" ->
      (btBattlesCte + """,
        |pair AS (SELECT least(ma, mb) AS lo, greatest(ma, mb) AS hi,
        |  count(*) AS games,
        |  sum(CASE WHEN (w = 'a' AND ma = least(ma, mb))
        |        OR (w = 'b' AND mb = least(ma, mb)) THEN 1 ELSE 0 END) AS wins_lo,
        |  sum(CASE WHEN w IN ('a', 'b') THEN 1 ELSE 0 END) AS wins_any
        |  FROM b GROUP BY 1, 2),
        |directed AS (
        |  SELECT lo AS model, hi AS opp, games, wins_lo AS wins FROM pair
        |  UNION ALL
        |  SELECT hi, lo, games, wins_any - wins_lo FROM pair),
        |models AS (SELECT model, CAST(sum(games) AS BIGINT) AS n_battles,
        |  CAST(sum(wins) AS BIGINT) AS n_wins FROM directed GROUP BY 1),
        |s0 AS (SELECT model, CAST(1 AS DOUBLE) AS s FROM models),
        |u1 AS (SELECT d.model, CAST(m.n_wins AS DOUBLE) /
        |    sum(CAST(d.games AS DOUBLE) / (sa.s + sb.s)) AS s_raw
        |  FROM directed d JOIN s0 sa ON sa.model = d.model
        |    JOIN s0 sb ON sb.model = d.opp JOIN models m ON m.model = d.model
        |  GROUP BY d.model, m.n_wins),
        |s1 AS (SELECT model, s_raw / (SELECT avg(s_raw) FROM u1) AS s FROM u1),
        |u2 AS (SELECT d.model, CAST(m.n_wins AS DOUBLE) /
        |    sum(CAST(d.games AS DOUBLE) / (sa.s + sb.s)) AS s_raw
        |  FROM directed d JOIN s1 sa ON sa.model = d.model
        |    JOIN s1 sb ON sb.model = d.opp JOIN models m ON m.model = d.model
        |  GROUP BY d.model, m.n_wins),
        |s2 AS (SELECT model, s_raw / (SELECT avg(s_raw) FROM u2) AS s FROM u2),
        |u3 AS (SELECT d.model, CAST(m.n_wins AS DOUBLE) /
        |    sum(CAST(d.games AS DOUBLE) / (sa.s + sb.s)) AS s_raw
        |  FROM directed d JOIN s2 sa ON sa.model = d.model
        |    JOIN s2 sb ON sb.model = d.opp JOIN models m ON m.model = d.model
        |  GROUP BY d.model, m.n_wins),
        |s3 AS (SELECT model, s_raw / (SELECT avg(s_raw) FROM u3) AS s FROM u3),
        |u4 AS (SELECT d.model, CAST(m.n_wins AS DOUBLE) /
        |    sum(CAST(d.games AS DOUBLE) / (sa.s + sb.s)) AS s_raw
        |  FROM directed d JOIN s3 sa ON sa.model = d.model
        |    JOIN s3 sb ON sb.model = d.opp JOIN models m ON m.model = d.model
        |  GROUP BY d.model, m.n_wins),
        |s4 AS (SELECT model, s_raw / (SELECT avg(s_raw) FROM u4) AS s FROM u4)
        |SELECT m.model, m.n_battles, m.n_wins, round(s4.s, 6) AS bt_score
        |FROM models m JOIN s4 USING (model) ORDER BY m.model""".stripMargin),

    // ------------------------------------------ interval-overlap join
    "q_interval_join" ->
      """WITH ev AS (SELECT CAST(event_id AS BIGINT) AS id, value FROM events),
        |l AS (SELECT id AS lid, value * 7 AS ls,
        |  value * 7 + 5 + CAST(id % 11 AS DOUBLE) AS le FROM ev WHERE id % 40 = 0),
        |r AS (SELECT id AS rid, value * 7 AS rs,
        |  value * 7 + 5 + CAST(id % 13 AS DOUBLE) AS re FROM ev WHERE id % 40 = 1)
        |SELECT lid, rid FROM l JOIN r ON ls <= re AND rs <= le""".stripMargin,

    // ---------------------------------- composed web-curation pipeline
    "q_pipeline_web" ->
      (htmlOracleCtes + """,
        |ex AS (SELECT s.doc_id,
        |  array_to_string(list_filter(string_split(s.stripped, chr(10)),
        |    l -> (len(string_split(trim(l), ' ')) >= 5
        |          OR regexp_matches(trim(l), '[.!?:"]$'))
        |         AND len(trim(l)) > 0), chr(10)) AS text,
        |  round(least((14.0 + len(CAST(h.doc_id AS VARCHAR))) /
        |    CAST(len(s.stripped) AS DOUBLE), CAST(1 AS DOUBLE)), 6) AS ld
        |  FROM h JOIN s USING (doc_id)),
        |t0 AS (SELECT doc_id, coalesce(text, '') AS text FROM ex
        |  WHERE ld <= 0.5),
        |""".stripMargin + gopherRuleCtes + """
        |SELECT f.doc_id, CAST(len(tok.toks) AS BIGINT) AS n_tok
        |FROM f JOIN tok USING (doc_id)
        |WHERE r_word_count AND r_mean_word_len AND r_symbol_ratio AND
        |  r_alpha_words AND r_bullet_lines AND r_ellipsis_lines AND
        |  r_stopwords""".stripMargin),

    // ---------------------------------------------- feature scaling
    "q_minmax_scale" ->
      """WITH b AS (SELECT l_returnflag, min(l_extendedprice) AS mn,
        |  max(l_extendedprice) AS mx FROM lineitem GROUP BY 1)
        |SELECT CAST(l.l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
        |  l.l_returnflag, l.l_extendedprice,
        |  CASE WHEN mx = mn THEN CAST(0 AS DOUBLE)
        |    ELSE round((l.l_extendedprice - mn) / (mx - mn), 6) END
        |    AS l_extendedprice_scaled
        |FROM lineitem l JOIN b USING (l_returnflag)""".stripMargin,

    "q_robust_scale" ->
      """WITH b AS (SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.25) AS q1,
        |  quantile_cont(l_extendedprice, 0.5) AS med,
        |  quantile_cont(l_extendedprice, 0.75) AS q3
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(l.l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
        |  l.l_returnflag, l.l_extendedprice,
        |  CASE WHEN q3 = q1 THEN CAST(0 AS DOUBLE)
        |    ELSE round((l.l_extendedprice - med) / (q3 - q1), 6) END
        |    AS l_extendedprice_robust
        |FROM lineitem l JOIN b USING (l_returnflag)""".stripMargin,

    // ------------------------------------------------ graph operators
    "q_connected_components" ->
      (graphEdgeCte + """,
        |sym AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        |nodes AS (SELECT DISTINCT a AS n FROM sym),
        |reach AS (
        |  SELECT n, n AS m FROM nodes
        |  UNION
        |  SELECT sym.b AS n, reach.m FROM reach JOIN sym ON sym.a = reach.n)
        |SELECT n AS id, CAST(min(m) AS BIGINT) AS component
        |FROM reach GROUP BY n""".stripMargin),

    "q_cc_incremental" ->
      (graphEdgeCte + """,
        |sym AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        |nodes AS (SELECT DISTINCT a AS n FROM sym),
        |reach AS (
        |  SELECT n, n AS m FROM nodes
        |  UNION
        |  SELECT sym.b AS n, reach.m FROM reach JOIN sym ON sym.a = reach.n)
        |SELECT n AS id, CAST(min(m) AS BIGINT) AS component
        |FROM reach GROUP BY n""".stripMargin),

    "q_cc_string_ids" ->
      """WITH RECURSIVE ed AS (SELECT DISTINCT
        |  'n' || CAST(CAST(o_orderkey % 499 AS BIGINT) AS VARCHAR) AS a,
        |  'n' || CAST(CAST((o_orderkey * o_orderkey + 1) % 499 AS BIGINT) AS VARCHAR) AS b
        |  FROM orders
        |  WHERE (o_orderkey % 499) <> ((o_orderkey * o_orderkey + 1) % 499)),
        |sym AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        |nodes AS (SELECT DISTINCT a AS n FROM sym),
        |reach AS (
        |  SELECT n, n AS m FROM nodes
        |  UNION
        |  SELECT sym.b AS n, reach.m FROM reach JOIN sym ON sym.a = reach.n)
        |SELECT n AS id, min(m) AS component
        |FROM reach GROUP BY n""".stripMargin,

    "q_component_sizes" ->
      (graphEdgeCte + """,
        |sym AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        |nodes AS (SELECT DISTINCT a AS n FROM sym),
        |reach AS (
        |  SELECT n, n AS m FROM nodes
        |  UNION
        |  SELECT sym.b AS n, reach.m FROM reach JOIN sym ON sym.a = reach.n),
        |comp AS (SELECT n AS id, CAST(min(m) AS BIGINT) AS component
        |  FROM reach GROUP BY n)
        |SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM comp GROUP BY 1 ORDER BY n_nodes DESC, component""".stripMargin),

    "q_degrees" ->
      (graphEdgeCte + """,
        |cn AS (SELECT greatest(a, b) AS u, least(a, b) AS v FROM ed
        |  GROUP BY 1, 2)
        |SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
        |  SELECT u AS id FROM cn UNION ALL SELECT v AS id FROM cn)
        |GROUP BY 1""".stripMargin),

    // ---------------------------------------- keyed pseudonymization
    "q_pseudonymize" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        |  sha256('k14:' || c_name) AS c_name,
        |  sha256('k14:' || c_mktsegment) AS c_mktsegment
        |FROM customer""".stripMargin,

    "q_pipeline_privacy" ->
      """WITH rel AS (SELECT c_nationkey, c_mktsegment FROM (
        |  SELECT c_nationkey, c_mktsegment,
        |    count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS k
        |  FROM customer) WHERE k >= 12),
        |cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS k
        |  FROM rel GROUP BY 1, 2)
        |SELECT CAST(min(k) AS BIGINT) AS dataset_k,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN k < 12 THEN 1 ELSE 0 END) AS BIGINT) AS violating_classes,
        |  CAST(sum(CASE WHEN k < 12 THEN k ELSE 0 END) AS BIGINT) AS violating_rows,
        |  round(CAST(sum(CASE WHEN k < 12 THEN k ELSE 0 END) AS DOUBLE) /
        |    CAST(sum(k) AS DOUBLE), 6) AS suppression_frac
        |FROM cls""".stripMargin,

    // ------------------------------------ sentence-aligned chunking
    "q_sentence_chunks" ->
      """WITH s0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  array_to_string(list_transform(
        |    string_split_regex(trim(text), '\s+'),
        |    (t, i) -> CASE WHEN i % 7 = 0 THEN t || '.' ELSE t END), ' ')
        |    AS stext
        |  FROM documents WHERE len(trim(text)) > 0),
        |fs AS (SELECT doc_id, list_filter(list_transform(
        |    regexp_extract_all(stext, '[^.!?]*[.!?]+|[^.!?]+$'),
        |    x -> trim(x)), x -> len(x) > 0) AS sents FROM s0),
        |sent AS (SELECT doc_id,
        |  unnest(range(len(sents))) AS sent_idx,
        |  unnest(sents) AS sent FROM fs),
        |tok AS (SELECT doc_id, sent_idx, sent,
        |  CAST(len(string_split_regex(sent, '\s+')) AS BIGINT) AS n_tok
        |  FROM sent),
        |cum AS (SELECT doc_id, sent_idx, sent, n_tok,
        |  coalesce(sum(n_tok) OVER (PARTITION BY doc_id ORDER BY sent_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM tok)
        |SELECT doc_id, CAST(floor(off / 16) AS BIGINT) AS chunk_id,
        |  CAST(count(*) AS BIGINT) AS n_sentences,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  string_agg(sent, ' ' ORDER BY sent_idx) AS chunk_text
        |FROM cum GROUP BY 1, 2""".stripMargin,

    // ------------------------------------------ JL random projection
    // The oracle replays the ENTIRE deterministic gaussian matrix:
    // Box-Muller over the library's md5 uniform
    // ((first-8-hex + 1) / 2^32), entry (k,i) from the literal string
    // "jl14:k:i:1|2" — byte-identical to Projection.projectionMatrix.
    "q_random_project" ->
      """WITH rm AS (SELECT k.range AS k, i.range AS i,
        |  sqrt(-2 * ln((('0x' || substr(md5('jl14:' || k.range || ':' || i.range || ':1'), 1, 8))::BIGINT + 1.0) / 4294967296.0))
        |  * cos(2 * pi() * ((('0x' || substr(md5('jl14:' || k.range || ':' || i.range || ':2'), 1, 8))::BIGINT + 1.0) / 4294967296.0))
        |  / sqrt(CAST(16 AS DOUBLE)) AS r
        |  FROM range(16) k, range(64) i),
        |ve AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |  unnest(range(len(embedding))) AS i,
        |  unnest(list_transform(range(len(embedding)), j -> embedding[j + 1])) AS x
        |  FROM embeddings)
        |SELECT ve.vec_id, rm.k AS j,
        |  round(sum(rm.r * CAST(ve.x AS DOUBLE)), 6) AS pv
        |FROM ve JOIN rm ON rm.i = ve.i
        |GROUP BY 1, 2""".stripMargin,

    // ------------------------------------- tokenizer vocab coverage
    "q_vocab_coverage" ->
      """WITH v AS (SELECT piece FROM (
        |  SELECT piece, count(*) AS c FROM (
        |    SELECT unnest(regexp_split_to_array(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS piece
        |    FROM documents WHERE len(trim(text)) > 0)
        |  GROUP BY 1 ORDER BY c DESC, piece LIMIT 20)),
        |tk AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  unnest(regexp_split_to_array(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents WHERE len(trim(text)) > 0),
        |agg AS (SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(CASE WHEN v.piece IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_in
        |  FROM tk LEFT JOIN v ON v.piece = tk.w GROUP BY 1)
        |SELECT d.doc_id, coalesce(agg.n_tok, 0) AS n_tok,
        |  coalesce(agg.n_in, 0) AS n_in_vocab,
        |  CASE WHEN coalesce(agg.n_tok, 0) = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE round(CAST(1 AS DOUBLE) -
        |      CAST(agg.n_in AS DOUBLE) / agg.n_tok, 6) END AS oov_rate
        |FROM (SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id)""".stripMargin,
  )

  // Shared CTE fragments for the r14 oracle families (kept as vals so
  // sibling queries stay textually in sync with each other).

  /** h = the htmlDocs page string rebuilt in SQL; s = Html.stripHtml's
    * regex chain replayed over it (same patterns, same order, same
    * entity sequence — amp decoded LAST). */
  private val htmlOracleCtes: String =
    """WITH h AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  '<html><head><title>Doc &amp; ' || CAST(doc_id AS VARCHAR) ||
      |  '</title><style>p { color: red }</style>' ||
      |  '<script>var x = "<p>hi</p>";</script></head><body>' ||
      |  '<!-- nav --><h1>Header ' || CAST(doc_id AS VARCHAR) || '</h1><ul>' ||
      |  '<li><a href="/home">Home</a></li>' ||
      |  '<li><a href="/p/' || CAST(doc_id AS VARCHAR) || '">Next page ' ||
      |  CAST(doc_id AS VARCHAR) || '</a></li></ul><p>' || text ||
      |  ' end.</p></body></html>' AS html
      |  FROM documents),
      |s AS (SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(regexp_replace(
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_replace(regexp_replace(regexp_replace(html,
      |        '(?si)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->', '', 'g'),
      |        '(?i)<(?:br|/p|/div|/li|/h[1-6]|/tr|/ul|/ol|/table|/blockquote|/title|/head)[^>]*>', chr(10), 'g'),
      |        '(?s)<[^>]*>', ' ', 'g'),
      |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', chr(39)), '&amp;', '&'),
      |    '[^\S\n]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'), '\n+', chr(10), 'g'),
      |  ' ' || chr(10) || chr(9) || chr(13)) AS stripped
      |  FROM h)""".stripMargin

  /** tok + f = QualityRules.gopherFlags' rule arithmetic (minWords=50,
    * maxWords=100000, minStopwords=1) over whatever prior CTE named
    * `t0` provides as (doc_id, text) — q_gopher_flags/report feed it
    * documents.text, q_pipeline_web feeds it the HTML-extracted text. */
  private val gopherRuleCtes: String =
    """tok AS (SELECT doc_id, text,
      |  CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |    ELSE string_split_regex(trim(text), '\s+') END AS toks,
      |  list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines
      |  FROM t0),
      |f AS (SELECT doc_id,
      |  CAST(len(toks) AS DOUBLE) BETWEEN 50 AND 100000 AS r_word_count,
      |  len(toks) > 0 AND
      |    coalesce(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE), 0)
      |      / greatest(CAST(len(toks) AS DOUBLE), CAST(1 AS DOUBLE))
      |      BETWEEN 3 AND 10 AS r_mean_word_len,
      |  (CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE) +
      |   CAST(len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE))
      |    / greatest(CAST(len(toks) AS DOUBLE), CAST(1 AS DOUBLE)) <= 0.1
      |    AS r_symbol_ratio,
      |  len(toks) > 0 AND
      |    CAST(len(list_filter(toks, t -> regexp_matches(t, '\p{L}'))) AS DOUBLE)
      |      / greatest(CAST(len(toks) AS DOUBLE), CAST(1 AS DOUBLE)) >= 0.8
      |    AS r_alpha_words,
      |  CAST(len(list_filter(lines, l ->
      |      regexp_matches(trim(l), '^(•|\*|-|–)\s'))) AS DOUBLE)
      |    / greatest(CAST(len(lines) AS DOUBLE), CAST(1 AS DOUBLE)) <= 0.9
      |    AS r_bullet_lines,
      |  CAST(len(list_filter(lines, l ->
      |      regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE)
      |    / greatest(CAST(len(lines) AS DOUBLE), CAST(1 AS DOUBLE)) <= 0.3
      |    AS r_ellipsis_lines,
      |  len(list_intersect(list_distinct(toks),
      |    ['the','be','to','of','and','that','have','with'])) >= 1 AS r_stopwords
      |  FROM tok)""".stripMargin

  private val gopherFlagsCtes: String =
    """WITH t0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  coalesce(text, '') AS text FROM documents),
      |""".stripMargin + gopherRuleCtes

  /** p + bins = Calibration.reliabilityBins over the o_orderkey-derived
    * (score, label) frame, nBins=10, 1.0 clamped into the top bin. */
  private val calibrationBinsCtes: String =
    """WITH p AS (SELECT
      |  least(greatest(CAST(o_orderkey % 97 AS DOUBLE) / CAST(96.0 AS DOUBLE),
      |    CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) AS score,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS label
      |  FROM orders),
      |bins AS (SELECT
      |  least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(avg(score), 6) AS mean_score,
      |  round(avg(CAST(label AS DOUBLE)), 6) AS frac_positive
      |  FROM p GROUP BY 1)""".stripMargin

  /** Shared truth for q_dedup_against and its artifact-serving
    * sibling q_dedup_against_ref (identical semantics by construction:
    * the artifact stores exactly the hash sets the online path
    * computes). */
  private val dedupAgainstOracle: String =
    """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
        |ref AS (SELECT doc_id, text FROM docs WHERE doc_id < 250),
        |fresh AS (SELECT doc_id, text FROM docs WHERE doc_id >= 250
        |          UNION ALL
        |          SELECT doc_id + 1000000, text || ' extra tail token' FROM docs WHERE doc_id < 50),
        |gf AS (SELECT doc_id, list_distinct(
        |         CASE WHEN len(toks) >= 3
        |              THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)]
        |              ELSE [array_to_string(toks, ' ')] END) AS grams
        |       FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |             FROM fresh WHERE len(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) > 0)),
        |gr AS (SELECT doc_id, list_distinct(
        |         CASE WHEN len(toks) >= 3
        |              THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)]
        |              ELSE [array_to_string(toks, ' ')] END) AS grams
        |       FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
        |             FROM ref WHERE len(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) > 0))
        |SELECT f.doc_id FROM fresh f
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM gf, gr
        |  WHERE gf.doc_id = f.doc_id AND len(gf.grams) > 0 AND len(gr.grams) > 0
        |    AND CAST(len(list_intersect(gf.grams, gr.grams)) AS DOUBLE)
        |        / len(list_distinct(gf.grams || gr.grams)) >= 0.7)""".stripMargin

  /** Graph-family edge fixture: the functional graph x → x²+1 mod
    * 499 over orders keys — 4 components on this key range, so the
    * size histogram and labels are non-degenerate. */
  private def graphEdges(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select((col("o_orderkey") % 499).cast("long").as("a"),
        ((col("o_orderkey") * col("o_orderkey") + 1) % 499).cast("long").as("b"))
      .filter(col("a") =!= col("b"))

  /** ed = [[graphEdges]] in SQL; RECURSIVE because the components
    * oracles run min-label propagation to a fixpoint. */
  private val graphEdgeCte: String =
    """WITH RECURSIVE ed AS (SELECT DISTINCT
      |  CAST(o_orderkey % 499 AS BIGINT) AS a,
      |  CAST((o_orderkey * o_orderkey + 1) % 499 AS BIGINT) AS b
      |  FROM orders
      |  WHERE (o_orderkey % 499) <> ((o_orderkey * o_orderkey + 1) % 499))""".stripMargin

  /** b = the btBattles fixture in SQL (five models keyed off
    * o_orderkey, self-pairings excluded, ties kept). */
  private val btBattlesCte: String =
    """WITH b AS (SELECT
      |  'm' || CAST(o_orderkey % 5 AS VARCHAR) AS ma,
      |  'm' || CAST((o_orderkey % 7) % 5 AS VARCHAR) AS mb,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 'a'
      |       WHEN o_orderkey % 3 = 1 THEN 'b' ELSE 'tie' END AS w
      |  FROM orders
      |  WHERE (o_orderkey % 5) <> ((o_orderkey % 7) % 5))""".stripMargin
}
