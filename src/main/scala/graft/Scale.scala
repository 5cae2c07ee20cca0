package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Two-point scale stress of the dedup/LSH family (SCALE.md evidence):
  * runs each operator on the sf corpus at 1× and at `SPARK_GRAFT_SCALE`×
  * (default 8×) and prints wall seconds plus OUTPUT PAIR counts at each
  * point, so super-linear candidate-pair growth — the failure mode small
  * scale factors cannot show — is observable directly.
  *
  * The scaled corpus keeps duplicate DENSITY constant instead of
  * replicating rows verbatim: replica k suffixes every token with the
  * replica id, so replicas are textually disjoint (verbatim copies would
  * make every doc a K-way duplicate and force pair counts quadratic in K
  * by construction — a pathological corpus, not a scale test). Linear
  * growth in docs should therefore give ~linear growth in pairs and in
  * wall time (modulo fixed per-job cost).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_SCALE=8 \
  *   sbt "runMain graft.Scale"
  */
object Scale {

  /** K textually-disjoint replicas of the documents table; ids offset
    * per replica so the near-dup structure (including the planted <50
    * block per replica) repeats K times.
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
    scaledDocs(spark, sfDir, 1).limit(2000)
      .transform(d => Dedup.minHashNearDuplicates(d, "text", "doc_id")).count()

    // SPARK_GRAFT_SCALE_ONLY=op1,op2 restricts the run to named ops —
    // the targeted-adjudication mode (mirrors Bench's SPARK_GRAFT_ONLY):
    // a suspicious row is re-measured isolated, without the ~10 min
    // full artifact and without the in-run load of earlier ops
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
      val docs = scaledDocs(spark, sfDir, k)
        .repartition(spark.sparkContext.defaultParallelism)
      timed(name, "scale" -> k.toLong)(() => body(docs))
    }

    for (k <- Seq(1, bigK)) {
      run("minhash_pairs", k)(d =>
        Dedup.minHashNearDuplicates(d, "text", "doc_id", threshold = 0.7))
      run("ngram_lsh_pairs", k)(d =>
        Dedup.ngramJaccardNearDuplicates(d, "text", "doc_id", threshold = 0.8))
      run("simhash_pairs", k)(d =>
        Dedup.simHashNearDuplicates(d, "text", "doc_id", maxHamming = 6))
      run("dedup_lines", k)(d => Dedup.dedupLines(d, "text", "doc_id"))
      run("decontaminate", k) { d =>
        val ev = d.filter(col("doc_id") % 1000 < 2) // ~0.2% plays eval
        Dedup.decontaminate(d, ev, "text", "doc_id", n = 5)
      }
      run("bloom_decontaminate", k) { d =>
        val ev = d.filter(col("doc_id") % 1000 < 2)
        // pin the distributed bloom-prefilter regime (smallEvalDocs=0
        // disables the doc-count delegate, maxDriverGrams=1 skips the
        // driver-collect rung): this row measures the big-eval
        // machinery; the adaptive router would (correctly) route this
        // small eval side to the exact pass and re-measure
        // `decontaminate`
        spark.conf.set(Dedup.BloomSmallEvalDocsConf, "0")
        try Dedup.bloomDecontaminate(d, ev, "text", "doc_id", n = 5,
          maxDriverGrams = 1)
        finally spark.conf.unset(Dedup.BloomSmallEvalDocsConf)
      }
      // conversations (r13): turnProfile is ONE narrow HOF pass over
      // the turns array — no explode, no exchange; 8x docs must scale
      // ~linearly with zero shuffle growth. Consumed through filters
      // on the computed columns (count-prune trap).
      run("conv_profile", k) { d =>
        graft.text.Conversations.turnProfile(
          graft.text.Conversations.syntheticConversationTable(
            d, "doc_id", "text"))
          .filter(col("total_tokens") >= 0 && col("alternates"))
      }
      // DSIR scoring shapes (r13): the word-grain exact path explodes
      // the corpus into gram rows, joins the feature-grain ratio table
      // and re-aggregates at doc grain (one corpus-sized exchange);
      // the hashed path's scoring stage is ONE narrow codegen'd pass
      // (ratio array rides the task binary) — distribution building is
      // its only other corpus work. The filter consumes log_weight so
      // count() cannot prune the computation (the RunMetricsProbe
      // lesson).
      run("dsir_exact", k) { d =>
        val tgt = d.filter(col("doc_id") % 50 === 0)
        graft.core.Dsir.importanceWeights(d, tgt, "text", "doc_id")
          .filter(col("log_weight") > -1e18)
      }
      run("dsir_hashed", k) { d =>
        val tgt = d.filter(col("doc_id") % 50 === 0)
        graft.core.Dsir.importanceWeightsHashed(d, tgt, "text")
          .filter(col("log_weight") > -1e18)
      }
      // the bloom path's scale claim, measured directly: rows entering
      // the gram join. The exact pass explodes EVERY train doc
      // (decont_gram_rows_exact = corpus × avg grams/doc); the bloom
      // pass explodes only probe survivors (decont_gram_rows_bloom) —
      // out_rows of these two rows are the before/after join volume.
      locally {
        def grams = graft.functions.HashFunctions.shingleHashesNative(
          graft.text.TextFunctions.tokens(
            graft.text.TextFunctions.normalizeText(col("text"))), 5)
        run("decont_gram_rows_exact", k)(d =>
          d.select(col("doc_id"), explode(grams).as("g")))
        run("decont_gram_rows_bloom", k) { d =>
          val evGrams = d.filter(col("doc_id") % 1000 < 2)
            .select(explode(grams).as("g")).distinct()
            .collect().map(_.getLong(0))
          val bytes = graft.functions.BloomFunctions
            .buildBloomBytesFromKeys(evGrams, 1e-4)
          d.select(col("doc_id"), grams.as("gs"))
            .filter(graft.functions.BloomFunctions.bloomAnyContain(col("gs"), bytes))
            .select(col("doc_id"), explode(col("gs")).as("g"))
        }
      }
      run("exact_dedup", k)(d => Dedup.exactDedup(d, "text", "doc_id"))
      // span dedup's scale claim: wall grows ~linearly with the corpus
      // (one map-side-combined window exchange), and the removal join is
      // bounded by TRUE duplication — substring_dup_windows' out_rows is
      // the duplicated-window count entering the position explode,
      // vs corpus × windows/doc for a naive all-windows path.
      // the filter on text_deduped defeats count()'s column pruning —
      // without it the string reassembly agg is optimised away and the
      // row under-reports (the RunMetricsProbe lesson)
      run("substring_dedup", k)(d =>
        graft.dedup.SubstringDedup.dedupSubstrings(d, "doc_id", "text", 8)
          .filter(length(col("text_deduped")) >= 0))
      // the hashKeys scale path: 8 B window keys from the codegen
      // kernel instead of materialised window strings (~k x corpus)
      run("substring_dedup_hashed", k)(d =>
        graft.dedup.SubstringDedup.dedupSubstrings(d, "doc_id", "text", 8,
          hashKeys = true)
          .filter(length(col("text_deduped")) >= 0))
      // hot-key probe (r19 verdict task 6): a degenerate corpus where
      // ONE window key owns >50% of ALL occurrences — every occurrence
      // of a window key colocates in a single window task under the
      // r19 window-function contraction, so this is the worst case the
      // whole-partition count/min can produce. Paired with a UNIFORM
      // corpus of identical row/token/window volume (unique windows per
      // doc) so the hot/uniform wall ratio isolates the single-task
      // straggler from the volume. Both reuse the scaled doc ids only.
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
      run("substring_dup_windows", k) { d =>
        val toks = graft.text.TextFunctions.normTokens(col("text"))
        d.select(col("doc_id"), toks.as("tk"))
          .filter(size(col("tk")) >= 8)
          .select(explode(transform(
            sequence(lit(1), size(col("tk")) - lit(7)),
            st => concat_ws(" ", slice(col("tk"), st, lit(8))))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
      }
      run("simhash128_h7_8band", k)(d =>
        Dedup.simHash128NearDuplicates(d, "text", "doc_id")) // default rung
      run("simhash128_h8_120band", k)(d =>
        Dedup.simHash128NearDuplicates(d, "text", "doc_id", maxHamming = 8))
      run("stream_near_dedup", k) { d =>
        // batch-equivalence path of the streaming near-dedup, through
        // the SAME shardedFingerprints construction the bench query
        // uses. out_rows = survivors; linear doc growth should give
        // ~linear survivors and wall (per-shard state stays bounded).
        graft.streaming.Streaming.nearDedupStream(
          graft.streaming.Streaming.shardedFingerprints(d, "doc_id"),
          maxHamming = 3).toDF()
      }
      run("stream_near_dedup_evtime", k) { d =>
        // event-time window variant on the same corpus (derived event
        // time: pre-offset id spread over 360 min, 60-min window — the
        // q_stream_dedup_evtime construction). More survivors than the
        // unwindowed row (same-fp docs outside the window coexist);
        // growth must stay ~linear, the state scan bounded by the
        // window prune.
        import spark.implicits._
        val timedDocs = graft.streaming.Streaming
          .shardedFingerprints(d, "doc_id").toDF()
          .withColumn("eventTime",
            timestamp_millis(SparkEntry.evtimeDerivedMs))
          .select(col("key"), col("id"), col("sim"), col("eventTime"),
            col("payload"))
          .as[graft.streaming.Streaming.TimedSimDoc]
        graft.streaming.Streaming.nearDedupStreamEventTime(
          timedDocs, maxHamming = 3, ttlMs = 60L * 60_000L).toDF()
      }
    }

    // --- salted skew join: K replicas of the 90%-hot-key corpus, each
    // replica's keys offset so it brings its own hot key — row count
    // and join output grow exactly K×, skew density stays constant.
    // out_rows is the JOIN output row count (pre-aggregation).
    def skewCorpus(k: Int): (DataFrame, DataFrame) = {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("ok"), col("l_quantity"))
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey").cast("long").as("k0"), col("o_totalprice"))
      val left = (0 until k).map { r =>
        li.withColumn("rep", explode(sequence(lit(0), lit(9))))
          .withColumn("k",
            when(pmod(col("ok"), lit(100)) < 90, lit(1L)).otherwise(col("ok"))
              + lit(r * 10000000L))
          .select("k", "l_quantity")
      }.reduce(_ unionByName _)
      val right = (0 until k).map { r =>
        ord.select((col("k0") + lit(r * 10000000L)).as("k"), col("o_totalprice"))
      }.reduce(_ unionByName _)
      (left, right)
    }
    def skewJoin(k: Int): DataFrame = {
      val (left, right) = skewCorpus(k)
      graft.core.DataFrameOps.saltedJoin(
        left, right.hint("merge"), Seq("k"), saltFactor = 32)
    }
    for (k <- Seq(1, bigK))
      timed("salted_join_skew", "scale" -> k.toLong)(() => skewJoin(k))

    // --- warm salted-vs-plain on the skew corpus: the artifact behind
    // saltedJoin's "salted runs ~0.65-0.75x the plain shuffle join when
    // salting is engaged" claim (DataFrameOps scaladoc cites these
    // rows). Two timed rounds each, interleaved both orders; warm
    // (round 2) readings are the honest ones — in-suite single-shot
    // numbers (BENCH q_salted_join_skew) carry load noise.
    for (round <- 1 to 2) {
      timed("skew_plain", "round" -> round.toLong) { () =>
        val (left, right) = skewCorpus(1)
        left.join(right.hint("merge"), Seq("k"))
      }
      timed("skew_salted_f32", "round" -> round.toLong)(() => skewJoin(1))
    }

    // --- hotKeys targeting vs blanket salting (the 100 TB story):
    // blanket salting explodes EVERY right row ×saltFactor into the
    // exchange; hotKeys targeting explodes only the hot keys' rows.
    // right_rows_exchanged is MEASURED by counting the operator's own
    // replicated-right construction (DataFrameOps.saltedRightFrame —
    // the very frame the engaged join exchanges), not derived from a
    // formula that could diverge from the implementation — targeted
    // replication is proportional to hot-key rows, not to the
    // right-side row count.
    if (only.forall(o =>
        Set("skew_salted_blanket_f32", "skew_salted_hotkeys_f32").exists(o))) {
      val (left, right) = skewCorpus(1)
      val hot = Seq(1L) // the constructed 90%-share key
      // counted lazily per selected op: in targeted mode an unselected
      // op's 4.8M-row explode+count would be exactly the in-run load
      // the mode exists to eliminate
      lazy val blanketExchanged = graft.core.DataFrameOps
        .saltedRightFrame(right, Seq("k"), 32, None).count()
      lazy val targetedExchanged = graft.core.DataFrameOps
        .saltedRightFrame(right, Seq("k"), 32, Some(hot)).count()
      for (round <- 1 to 2) {
        if (only.forall(_("skew_salted_blanket_f32")))
          timed("skew_salted_blanket_f32", "round" -> round.toLong,
            "right_rows_exchanged" -> blanketExchanged)(() =>
            graft.core.DataFrameOps.saltedJoin(
              left, right.hint("merge"), Seq("k"), saltFactor = 32))
        if (only.forall(_("skew_salted_hotkeys_f32")))
          timed("skew_salted_hotkeys_f32", "round" -> round.toLong,
            "right_rows_exchanged" -> targetedExchanged)(() =>
            graft.core.DataFrameOps.saltedJoin(
              left, right.hint("merge"), Seq("k"), saltFactor = 32,
              hotKeys = Some(hot)))
      }
    }

    // --- single-band recall of the streaming near-dedup rung (r9
    // verdict item 1): nearDedupStream shards by the fingerprint's top
    // 16-bit block (the single-probe rung of the banding family —
    // Streaming.shardedFingerprints), so it can only ever compare a
    // near-dup pair that AGREES on that block, while the batch
    // operator's multi-band contract (Dedup.simHashNearDuplicates)
    // catches every within-h pair. This row turns the scaladoc caveat
    // into a NUMBER: ground truth is the exact all-pairs within-h set
    // over the SAME kernel fingerprints (documented quadratic oracle
    // baseline — 1× corpus only, ~18M bit_count comparisons; recall is
    // a property of the fingerprint distribution, not the corpus size),
    // measured recall = fraction of within-h pairs whose members share
    // the top block, per Hamming distance plus the h<=3 total.
    // Geometry for intuition: h independently-placed flipped bits all
    // land outside the top 16 with probability (48/64)^h — 1.00 /
    // 0.75 / 0.56 / 0.42 for h=0..3 — but real corpora skew toward
    // h=0/1 pairs, so the corpus-weighted number is the one to size
    // against.
    if (only.forall(_.contains("stream_band_recall"))) {
      val docs = scaledDocs(spark, sfDir, 1)
        .repartition(spark.sparkContext.defaultParallelism)
      val fps = graft.streaming.Streaming.shardedFingerprints(docs, "doc_id")
        .toDF().select("id", "sim").localCheckpoint(true)
      val perH = fps.select(col("id").as("id_a"), col("sim").as("sim_a"))
        .crossJoin(fps.select(col("id").as("id_b"), col("sim").as("sim_b")))
        .where(col("id_a") < col("id_b"))
        .select(expr("bit_count(sim_a ^ sim_b)").cast("long").as("h"),
          (shiftrightunsigned(col("sim_a"), 48) ===
            shiftrightunsigned(col("sim_b"), 48)).cast("long").as("same_block"))
        .where(col("h") <= 3)
        .groupBy("h")
        .agg(count(lit(1)).as("n"), sum("same_block").as("caught"))
        .orderBy("h")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      def recallLine(tag: String, n: Long, caught: Long): Unit =
        println(s"""{"op":"stream_band_recall","h":"$tag"""" +
          s""","n_within_pairs":$n,"n_same_block":$caught""" +
          s""","recall_pct":${math.rint(1000.0 * caught / math.max(n, 1)) / 10}}""")
      perH.foreach { case (h, n, c) => recallLine(h.toString, n, c) }
      recallLine("le3", perH.map(_._2).sum, perH.map(_._3).sum)
    }

    // --- streaming state size (r9 verdict item 3): the wall/output
    // growth rows say nothing about the thing that actually kills
    // streams — state-store growth. Run both dedups as REAL streams
    // (AvailableNow over the corpus fingerprints written to parquet;
    // timeoutMs = 0 on the processing-time variant — armed wall-clock
    // timers never let AvailableNow terminate) and read the engine's
    // own accounting from StreamingQueryProgress.stateOperators:
    // numRowsTotal (live shard keys) and memoryUsedBytes.
    // max_shard_retained comes from the survivors themselves (in a
    // bounded run nothing is TTL- or watermark-evicted, so a shard's
    // state is exactly its survivor fingerprints), confirming the
    // per-shard ≲ corpus/65536 bound the wall-time rows assume.
    def streamStateRow(name: String, k: Int, evtime: Boolean): Unit = {
      if (only.exists(!_.contains(name))) return
      import spark.implicits._
      val docs = scaledDocs(spark, sfDir, k)
        .repartition(spark.sparkContext.defaultParallelism)
      val base = graft.streaming.Streaming.shardedFingerprints(docs, "doc_id").toDF()
      val input =
        if (evtime)
          base.withColumn("eventTime", timestamp_millis(SparkEntry.evtimeDerivedMs))
            .select("key", "id", "sim", "eventTime", "payload")
        else base
      val inDir = s"target/scale_stream_state/${name}_$k"
      input.write.mode("overwrite").parquet(inDir)
      val streamed = spark.readStream
        .schema(spark.read.parquet(inDir).schema).parquet(inDir)
      val deduped =
        if (evtime)
          graft.streaming.Streaming.nearDedupStreamEventTime(
            streamed.withWatermark("eventTime", "10 hours")
              .as[graft.streaming.Streaming.TimedSimDoc],
            maxHamming = 3, ttlMs = 60L * 60_000L).toDF()
        else
          graft.streaming.Streaming.nearDedupStream(
            streamed.as[graft.streaming.Streaming.SimDoc],
            maxHamming = 3, timeoutMs = 0).toDF()
      val qName = s"${name}_$k"
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val q = deduped.writeStream.format("memory").queryName(qName)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(300000)) {
        q.stop()
        sys.error(s"streamStateRow($qName): stream did not finish within 300 s")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.flatMap(_.stateOperators)
      val stateRows = if (progs.isEmpty) 0L else progs.map(_.numRowsTotal).max
      val stateBytes = if (progs.isEmpty) 0L else progs.map(_.memoryUsedBytes).max
      val out = spark.table(qName)
      val survivors = out.count()
      val maxShard = out.groupBy("key").count().agg(max("count")).as[Long].head()
      println(s"""{"op":"$name","scale":$k""" +
        s""","secs":${math.rint(secs * 100) / 100},"out_rows":$survivors""" +
        s""","state_shard_keys":$stateRows,"state_bytes":$stateBytes""" +
        s""","max_shard_retained":$maxShard}""")
    }
    for (k <- Seq(1, bigK); (nm, ev) <- Seq(
        "stream_state" -> false, "stream_state_evtime" -> true))
      streamStateRow(nm, k, ev)

    // --- full-recall streaming dedup (r10): nearDedupStreamFullRecall
    // trades the state store for a parquet survivors store scanned
    // once per micro-batch — its design cost is batches ×
    // survivors-so-far, so the row that matters is wall growth across
    // corpus scales at a FIXED batch count (store scans dominate only
    // if they outgrow the per-batch banding work). Run the REAL
    // foreachBatch stream (AvailableNow, maxFilesPerTrigger sized to
    // ~4 micro-batches so every batch after the first probes a
    // non-empty store) and report wall, survivors, micro-batches, and
    // the store's actual on-disk bytes — the "state" a 100 TB stream
    // would accumulate, priced in cheap parquet instead of executor
    // memory.
    def streamFullRecallRow(k: Int, round: Int): Unit = {
      if (only.exists(!_.contains("stream_fullrecall"))) return
      val docs = scaledDocs(spark, sfDir, k)
        .repartition(spark.sparkContext.defaultParallelism)
      val fps = graft.streaming.Streaming.shardedFingerprints(docs, "doc_id")
        .toDF().select("id", "sim")
      val root = s"target/scale_fullrecall/run_${k}_$round"
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(rootPath, true) // stale checkpoint would replay as no-ops
      val inDir = s"$root/in"
      fps.write.mode("overwrite").parquet(inDir)
      val nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(inDir))
        .count(_.getPath.getName.endsWith(".parquet"))
      val streamed = spark.readStream
        .schema(spark.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", math.max(1, nFiles / 4))
        .parquet(inDir)
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val q = graft.streaming.Streaming.nearDedupStreamFullRecall(
        streamed, s"$root/store", s"$root/ck", maxHamming = 3)
      if (!q.awaitTermination(300000)) {
        q.stop()
        sys.error(s"streamFullRecallRow($k): stream did not finish within 300 s")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.map(_.batchId).distinct.length
      val survivors = graft.streaming.Streaming
        .readFullRecallStore(spark, s"$root/store").count()
      val storeBytes = fs.getContentSummary(
        new org.apache.hadoop.fs.Path(s"$root/store")).getLength
      println(s"""{"op":"stream_fullrecall","scale":$k,"round":$round""" +
        s""","secs":${math.rint(secs * 100) / 100},"out_rows":$survivors""" +
        s""","micro_batches":$batches,"store_bytes":$storeBytes}""")
    }
    // two rounds per scale, warm (round 2) readings are the honest
    // ones — a cold first stream pays JIT for the whole foreachBatch
    // path and reads ~2× its warm wall (the r8 bench-noise lesson)
    for (round <- 1 to 2; k <- Seq(1, bigK)) streamFullRecallRow(k, round)

    // --- compaction effect on the store probe (r10): the claim behind
    // compactFullRecallStore is that per-batch cost grows with FILE
    // count (one small-file partition per micro-batch) even though
    // bytes stay linear in survivors. Measure exactly that: the SAME
    // rows laid out as 64 batch partitions vs folded into one, probed
    // by the same micro-batch (dedupBatchAgainstStore with a
    // non-existent batch id — pure read path, nothing written). Two
    // timed probes per layout, warm reading honest; file counts
    // printed so the row is self-describing.
    if (only.forall(_.contains("fullrecall_compaction"))) {
      val docs = scaledDocs(spark, sfDir, 1)
        .repartition(spark.sparkContext.defaultParallelism)
      val fps = graft.streaming.Streaming.shardedFingerprints(docs, "doc_id")
        .toDF().select("id", "sim").localCheckpoint(true)
      val store = "target/scale_fullrecall/compaction/store"
      val storePath = new org.apache.hadoop.fs.Path(store)
      val fs = storePath.getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(storePath, true)
      // the fragmented layout a 64-micro-batch stream leaves behind:
      // same survivor rows, one partition (+1 file) per batch
      fps.withColumn("batch_id", pmod(col("id"), lit(64L)))
        .repartition(64, col("batch_id"))
        .write.partitionBy("batch_id").parquet(store)
      val probe = fps.filter(col("id") < 2000).localCheckpoint(true)
      def files(): Long = {
        val it = fs.listFiles(storePath, true)
        var n = 0L
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
      def probeOnce(): Double = {
        val t0 = System.nanoTime()
        graft.streaming.Streaming
          .dedupBatchAgainstStore(probe, store, 999L, maxHamming = 3).count()
        (System.nanoTime() - t0) / 1e9
      }
      def row(layout: String): Unit = {
        val nf = files()
        for (round <- 1 to 2)
          println(s"""{"op":"fullrecall_compaction","layout":"$layout"""" +
            s""","round":$round,"store_files":$nf""" +
            s""","probe_secs":${math.rint(probeOnce() * 100) / 100}}""")
      }
      row("fragmented_64")
      val t0 = System.nanoTime()
      graft.streaming.Streaming.compactFullRecallStore(spark, store, 63L)
      println(s"""{"op":"fullrecall_compaction","layout":"fold"""" +
        s""","fold_secs":${math.rint((System.nanoTime() - t0) / 1e7) / 100}}""")
      row("compacted")
    }

    // --- forced non-skew salting tax: the measured number behind
    // saltedJoin's broadcast short-circuit (DataFrameOps scaladoc).
    // Lives here rather than in baseline_ratios because the
    // configuration exists only to be avoided: the operator's default
    // path (un-hinted broadcastable right) never takes it. Two timed
    // rounds each; the warm (second) reading is the honest one.
    {
      def li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("k"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("l_quantity"))
      def ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey").cast("long").as("k"), col("o_totalprice"))
      for (round <- 1 to 2) {
        timed("nonskew_plain_join", "round" -> round.toLong)(() =>
          li.join(ord, Seq("k")))
        timed("nonskew_salted_forced_f4", "round" -> round.toLong)(() =>
          graft.core.DataFrameOps.saltedJoin(
            li, ord.hint("merge"), Seq("k"), saltFactor = 4))
      }
    }

    // --- ANN quality + compression artifact (r11): the approximate
    // family's two honest dials, MEASURED — recall@5 against exact
    // brute force (perturbed-copy queries, the realistic near-match
    // workload) across the nprobe routing dial, and the parquet byte
    // footprint of PQ codes vs the raw vectors they replace (the
    // scan-width reduction that is PQ's entire point at 100 TB).
    {
      import graft.similarity.{Pq, Similarity}
      def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      def queries = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x + lit(0.001)).as("v"))
      def gate(name: String): Boolean = !only.exists(!_.contains(name))
      if (gate("ann_recall")) {
        val exact = Similarity
          .bruteForceTopK(emb, queries, "vec_id", "v", 5)
          .localCheckpoint(true)
        def recallRow(tag: String, approx: DataFrame): Unit = {
          val r = Similarity.recallAtK(approx, exact, 5).collect()(0)
          println(s"""{"op":"ann_recall","variant":"$tag"""" +
            s""","n_queries":${r.getLong(0)},"recall_at_5":${r.getDouble(1)}}""")
        }
        recallRow("pq_m8_k64",
          Pq.pqTopK(emb, queries, "vec_id", "v", 5, m = 8, nCentroids = 64))
        recallRow("pq_m8_k256",
          Pq.pqTopK(emb, queries, "vec_id", "v", 5, m = 8, nCentroids = 256))
        recallRow("pq_m16_k256",
          Pq.pqTopK(emb, queries, "vec_id", "v", 5, m = 16, nCentroids = 256))
        for (nprobe <- Seq(2, 4, 8, 16))
          recallRow(s"ivfpq_nlist16_nprobe$nprobe",
            Pq.ivfPqTopK(emb, queries, "vec_id", "v", 5,
              nlist = 16, nprobe = nprobe, m = 8, nCentroids = 64))
      }
      if (gate("pq_bytes")) {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_pq_bytes").toString
        def bytesOf(path: String): Long = {
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          fs.getContentSummary(p).getLength
        }
        emb.write.mode("overwrite").parquet(s"$dir/raw")
        val cb = Pq.trainCodebooks(emb, "vec_id", "v", m = 8, k = 64)
        Pq.encode(emb, "vec_id", "v", cb)
          .write.mode("overwrite").parquet(s"$dir/codes")
        println(s"""{"op":"pq_bytes","raw_parquet_bytes":${bytesOf(s"$dir/raw")}""" +
          s""","code_parquet_bytes":${bytesOf(s"$dir/codes")}}""")
      }
      // the materialised-index claim (r13): serving from the
      // cell-partitioned encoded table (static cell IN pruning +
      // m-byte codes, AnnIndex.searchEncodedCorpus) vs the
      // from-artifacts path that re-scans and re-encodes raw vectors
      // on EVERY search. Index built once outside the timed rows; the
      // encode_once row is the amortised build cost. Corpus ×8·bigK.
      // The decisive metric is BYTES TOUCHED per search (deterministic;
      // toy-scale wall is job-overhead-bound, same crossover framing as
      // bloom_semi_bytes): raw vectors vs all codes vs probed cells.
      if (Seq("ann_serve_encode_once", "ann_serve_from_artifacts",
        "ann_serve_from_encoded", "ann_serve_bytes").exists(gate)) {
        val mult = 8 * bigK
        val big = (0 until mult).map { r =>
          if (r == 0) emb
          else emb.select((col("vec_id") + r * 10000000L).as("vec_id"),
            transform(col("v"), x => x + lit(r * 1e-4)).as("v"))
        }.reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
          .localCheckpoint(true)
        val oneQuery = queries.limit(1).localCheckpoint(true)
        val (centers, codebooks) = Pq.trainIvfPq(big, "vec_id", "v",
          nlist = 16, m = 8, nCentroids = 64)
        val root = java.nio.file.Files
          .createTempDirectory("graft_ann_serve").toString
        graft.similarity.AnnIndex.save(spark, centers, codebooks, root)
        big.write.mode("overwrite").parquet(s"$root/raw")
        timed("ann_serve_encode_once")(() => {
          graft.similarity.AnnIndex.saveEncodedCorpus(
            big, "vec_id", "v", centers, codebooks, root)
          spark.read.parquet(s"$root/encoded")
        })
        if (gate("ann_serve_bytes")) {
          def bytesOf(path: String): Long = {
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
            if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
          }
          // the one query's probed cells, routed exactly as the search
          // routes (centroid cosine top-nprobe)
          val qv = oneQuery.select(col("v")).collect()(0)
            .getSeq[Double](0).toArray
          def cos(a: Array[Double], b: Array[Double]): Double = {
            var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
            while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
            if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
          }
          val probed = centers.zipWithIndex
            .map { case (c, i) => (cos(qv, c), i) }
            .sortBy { case (s, i) => (-s, i) }.take(4).map(_._2)
          val probedBytes = probed.map(c => bytesOf(s"$root/encoded/cell=$c")).sum
          println(s"""{"op":"ann_serve_bytes","raw_bytes":${bytesOf(s"$root/raw")}""" +
            s""","codes_total_bytes":${bytesOf(s"$root/encoded")}""" +
            s""","codes_probed_bytes":$probedBytes""" +
            s""","n_probed_cells":${probed.length},"nlist":16}""")
        }
        // both serve paths read PARQUET (production shape: the corpus
        // lives on disk) — from_artifacts scans + re-encodes raw
        // vectors, from_encoded scans only the probed cells' codes
        val rawOnDisk = spark.read.parquet(s"$root/raw")
        for (round <- 1 to 2) {
          timed("ann_serve_from_artifacts", "round" -> round.toLong)(() =>
            Pq.ivfPqTopKFromArtifacts(rawOnDisk, oneQuery, "vec_id", "v", 5,
              centers, codebooks, nprobe = 4))
          timed("ann_serve_from_encoded", "round" -> round.toLong)(() =>
            graft.similarity.AnnIndex.searchEncodedCorpus(
              spark, root, oneQuery, "vec_id", "v", 5, nprobe = 4))
        }
      }
    }

    // --- exact global quantile in its OWN regime (r13): the bench
    // ratio at sf0.1 (600k values) measures fixed machinery overhead
    // (range-exchange sampling job + checkpoint + offsets frame)
    // against a single-task sort that is still cheap — precisely the
    // case the operator is NOT for. At 20M values the one-partition
    // sort serialises the corpus through one core; the
    // partition-offset path sorts in parallel.
    {
      val vals = spark.range(20000000L)
        .select(((col("id") * 48271L % 20000000L).cast("double") / 7.0).as("v"))
        .localCheckpoint(true)
      // pin the rank path: 20M is above the adaptive crossover anyway,
      // but the row exists to measure the range-exchange machinery and
      // must keep doing so if the default crossover ever moves
      spark.conf.set(graft.core.Quantiles.SmallInputRowsConf, "0")
      try {
      for (round <- 1 to 2) {
        timed("exact_quantile_offset", "round" -> round.toLong)(() =>
          graft.core.Quantiles.exactQuantiles(vals, "v", Seq(0.5, 0.99)))
        timed("exact_quantile_naive", "round" -> round.toLong)(() => {
          import spark.implicits._
          val ranked = vals.withColumn("r",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy("v")) - 1)
          val n = vals.agg(count(lit(1)).as("n"))
          Seq(0.5, 0.99).toDF("q").crossJoin(broadcast(n))
            .withColumn("t", least(floor(col("q") * (col("n") - 1)),
              col("n") - 1).cast("long"))
            .join(ranked, col("t") === col("r"))
            .select(col("q"), col("v").as("value"))
        })
      }
      } finally spark.conf.unset(graft.core.Quantiles.SmallInputRowsConf)
    }

    // --- packTokenWindows shard-parallelism contract (r14): the
    // per-shard cumulative-sum window serialises each shard's packing
    // through ONE task — parallelism = shard count. Two probes at
    // x1/x8 on MATERIALIZED (doc_id, w, shard) parquet (measured
    // inputs rule): FIXED 4 shards (wall must grow ~linearly — the
    // pre-crossover cost of the contract), and shards∝size (wall per
    // token ~flat — the production shape where shards ≈ output files).
    // Consumed through a filter on the computed slice columns
    // (count-prune trap).
    {
      def packInput(k: Int, nShards: Int): String = {
        // synthetic manifest-grain input: 2.5M·k (doc_id, w, shard)
        // rows — the sf0.1 documents table is too small for the
        // one-task-per-shard cost to clear the noise floor
        val path = s"/root/repo/target/scale_pack/x${k}_s$nShards"
        if (!new java.io.File(path).exists())
          spark.range(2500000L * k)
            .select(col("id").as("doc_id"),
              (lit(50L) + col("id") % 100L).as("w"),
              pmod(col("id"), lit(nShards.toLong)).as("shard"))
            .repartition(spark.sparkContext.defaultParallelism)
            .write.mode("overwrite").parquet(path)
        path
      }
      def packed(path: String): DataFrame =
        graft.core.Sampling.packTokenWindows(
          spark.read.parquet(path), "w", 512, Seq("shard"), "doc_id")
          .filter(col("n_tokens") > 0 && col("doc_start") >= 0)
      for (k <- Seq(1, bigK)) {
        // materialize OUTSIDE the timed thunk (measured-inputs rule)
        val fixedIn = packInput(k, 4)
        val propIn = packInput(k, 4 * k)
        timed("pack_windows_fixed_shards", "scale" -> k.toLong,
          "shards" -> 4L)(() => packed(fixedIn))
        timed("pack_windows_prop_shards", "scale" -> k.toLong,
          "shards" -> (4L * k))(() => packed(propIn))
      }
    }

    // --- minhash reference artifact (r14): serving ingest dedup from
    // the persisted (id, hs, sig) artifact skips the reference side's
    // text scan + normalize/shingle/minhash recompute every batch —
    // the artifact-vs-online gap must WIDEN as the reference corpus
    // grows while the batch stays fixed. Both reference forms are
    // MATERIALIZED parquet (measured-inputs rule); the fresh batch is
    // the same x1 frame in all rows.
    {
      def matPath(k: Int, kind: String): String = {
        val p = s"/root/repo/target/scale_mhref/${kind}_x$k"
        if (!new java.io.File(p).exists()) kind match {
          case "text" =>
            scaledDocs(spark, sfDir, k)
              .repartition(spark.sparkContext.defaultParallelism)
              .write.mode("overwrite").parquet(p)
          case "sig" =>
            Dedup.saveMinHashRef(
              spark.read.parquet(matPath(k, "text")), "text", "doc_id", p)
        }
        p
      }
      val fresh = scaledDocs(spark, sfDir, 1)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      for (k <- Seq(1, bigK)) {
        val textP = matPath(k, "text")
        val sigP = matPath(k, "sig")
        timed("mhref_artifact_serve", "scale" -> k.toLong)(() =>
          Dedup.minHashDedupAgainstRef(fresh, sigP, "text", "doc_id"))
        timed("mhref_online", "scale" -> k.toLong)(() =>
          Dedup.minHashDedupAgainst(fresh, spark.read.parquet(textP),
            "text", "doc_id"))
      }
    }

    // --- interval-overlap join in its own regime (r14): the bench
    // pair at sf0.1 joins 2.5k x 2.5k intervals, where the
    // BroadcastNestedLoopJoin's 6M probes are still cheap; here both
    // sides are 20k·k intervals over a 1M-point domain, so the bare
    // predicate pays |L|·|R| probes while the binned join touches
    // only co-binned pairs. Same output, checked by out_rows.
    {
      def intervals(n: Long, seed: Long): DataFrame =
        spark.range(n).select(
          (col("id") + seed * 100000000L).as("iid"),
          ((col("id") * 37L + seed * 13L) % 1000000L).cast("double").as("s"),
          (((col("id") * 37L + seed * 13L) % 1000000L).cast("double")
            + 50.0 + (col("id") % 50L).cast("double")).as("e"))
      for (k <- Seq(1, bigK)) {
        val l = intervals(20000L * k, 1).localCheckpoint(true)
          .select(col("iid").as("lid"), col("s").as("ls"), col("e").as("le"))
        val r = intervals(20000L * k, 2).localCheckpoint(true)
          .select(col("iid").as("rid"), col("s").as("rs"), col("e").as("re"))
        timed("interval_join_binned", "scale" -> k.toLong)(() =>
          graft.operators.RangeJoin.intervalJoin(l, "ls", "le", r, "rs", "re", 100.0)
            .select(col("lid"), col("rid")))
        timed("interval_join_bnlj", "scale" -> k.toLong)(() =>
          l.join(r, col("ls") <= col("re") && col("rs") <= col("le"))
            .select(col("lid"), col("rid")))
      }
    }

    // --- embedding-grain decontamination (r13): the claim is ONE
    // BroadcastNestedLoopJoin LeftAnti pass — cost linear in corpus
    // rows × eval size, corpus never exchanged. Corpus replicas keep
    // vector DIRECTIONS (cosine is scale-invariant), so each replica's
    // first-25 ids stay contaminated and out_rows = k·(N−25) proves
    // the anti-join truth scaled. x1 vs x8 at eval=25 pins linearity
    // in corpus; the eval=200 row pins linearity in eval width.
    {
      def embK(k: Int): DataFrame = {
        val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id").cast("long").as("vec_id"),
            col("embedding").cast("array<double>").as("v"))
        (0 until k).map { r =>
          if (r == 0) base
          else base.select((col("vec_id") + r * 10000000L).as("vec_id"),
            transform(col("v"), x => x * lit(1.0 + r * 0.001)).as("v"))
        }.reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
      }
      def evalOf(n: Long): DataFrame = spark.read
        .parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .filter(col("vec_id") < n)
        .select(transform(col("v"), x => x + lit(0.01)).as("v"))
      for (k <- Seq(1, bigK))
        timed("semantic_decon", "scale" -> k.toLong, "eval_rows" -> 25L)(() =>
          graft.dedup.Dedup.decontaminateSemantic(embK(k), evalOf(25), "v", 0.9))
      timed("semantic_decon", "scale" -> 1L, "eval_rows" -> 200L)(() =>
        graft.dedup.Dedup.decontaminateSemantic(embK(1), evalOf(200), "v", 0.9))
    }

    // --- bloom semi join in its OWN regime (r11): the bench ratio at
    // sf0.1 measures the operator against a broadcastable right side —
    // precisely the case it is NOT for. Here broadcast is disabled
    // (emulating a right side beyond the threshold) and the left is
    // 20M rows with 5 % semi-join selectivity: the plain semi join
    // must shuffle the whole left; the bloom path ships only the
    // candidate fraction through the exchange. bloom_semi_candidates'
    // out_rows IS the exchanged-row evidence (true hits + fpp).
    {
      val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(thresholdKey)
      spark.conf.set(thresholdKey, "-1")
      // the 50k-key right side is below the adaptive bloom crossover;
      // pin the bloom path — this row measures the non-broadcastable
      // regime the router would otherwise (correctly) avoid here
      spark.conf.set(graft.core.DataFrameOps.BloomSmallRightRowsConf, "0")
      try {
        val keyspace = 1000000L
        def left = spark.range(20000000L)
          .select((col("id") % keyspace).as("k"), col("id").as("payload"))
        // 50k distinct keys spread over the keyspace → 5 % of left rows hit
        def right = spark.range(50000L).select((col("id") * 20L).as("rk"))
        for (round <- 1 to 2) {
          timed("bloom_semi_plain_noBC", "round" -> round.toLong)(() => {
            val l = left; val r = right
            l.join(r, l("k") === r("rk"), "left_semi")
          })
          timed("bloom_semi_bloom_noBC", "round" -> round.toLong)(() =>
            graft.core.DataFrameOps.bloomSemiJoin(left, right, "k", "rk"))
        }
        timed("bloom_semi_candidates")(() => {
          val bytes = graft.functions.BloomFunctions.buildBloomBytes(
            right.select(xxhash64(col("rk")).as("h")), "h", 50000L, 0.01)
          left.filter(graft.functions.BloomFunctions
            .bloomMightContain(xxhash64(col("k")), bytes))
        })
        // exchange BYTES via the RunMetricsProbe listener — the direct
        // form of the volume argument (plain must shuffle the whole
        // left; bloom ships candidates only)
        if (!only.exists(!_.contains("bloom_semi_bytes"))) {
          def bytesRow(variant: String, df: org.apache.spark.sql.DataFrame): Unit = {
            spark.catalog.clearCache()
            val mtr = graft.observability.RunMetricsProbe.measure(df)
            println(s"""{"op":"bloom_semi_bytes","variant":"$variant"""" +
              s""","shuffle_write_bytes":${mtr.shuffleWriteBytes}""" +
              s""","rows":${mtr.rows},"secs":${mtr.wallMs / 1000.0}}""")
          }
          bytesRow("plain", {
            val l = left; val r = right
            l.join(r, l("k") === r("rk"), "left_semi")
          })
          bytesRow("bloom",
            graft.core.DataFrameOps.bloomSemiJoin(left, right, "k", "rk"))
        }
      } finally {
        spark.conf.set(thresholdKey, prev)
        spark.conf.unset(graft.core.DataFrameOps.BloomSmallRightRowsConf)
      }
    }

    // --- incremental SCD merge (r11b): history built from a 20M-row
    // change log, then a 100k-row update batch applied two ways — the
    // incremental claim is that merge cost tracks open-keys + batch,
    // not history size. Identical outputs (ScdSpec equivalence pin).
    if (!only.exists(o => !o.contains("scd_merge_incremental") &&
        !o.contains("scd_merge_full_rebuild"))) {
      import graft.operators.Scd
      val log = spark.range(20000000L).select(
        (col("id") % 500000L).as("k"), col("id").as("t"),
        (col("id") % 7L).cast("string").as("state"))
        .localCheckpoint(true)
      val batch = spark.range(20000000L, 20100000L).select(
        (col("id") % 500000L).as("k"), col("id").as("t"),
        ((col("id") + 3L) % 7L).cast("string").as("state"))
        .localCheckpoint(true)
      val history = Scd.scdType2(log, "k", Seq("t"), Seq("state"))
        .localCheckpoint(true)
      timed("scd_merge_incremental")(() =>
        Scd.scdType2Merge(history, batch, "k", Seq("t"), Seq("state")))
      timed("scd_merge_full_rebuild")(() =>
        Scd.scdType2(log.unionByName(batch), "k", Seq("t"), Seq("state")))
    }

    // --- Z-order clustering (r11b): the same 20M-row 2-D frame
    // written three ways (unsorted / sorted on x only / Z-ordered on
    // (x, y)), then scanned with the same selective 2-D range filter.
    // parquet row-group min/max stats drive the skipping, so
    // inputBytes IS the pruning evidence; small row groups (1 MiB)
    // emulate the many-row-group layout a 100 TB table has.
    if (!only.exists(!_.contains("zorder_bytes"))) {
      val dir = java.nio.file.Files.createTempDirectory("graft_zorder_scale").toString
      val frame = spark.range(20000000L)
        .select((col("id") * 48271L % 4096L).cast("double").as("x"),
          (col("id") * 69621L % 4096L).cast("double").as("y"),
          col("id").as("payload"))
      val opts = Map("parquet.block.size" -> (1024 * 1024).toString)
      frame.write.options(opts).mode("overwrite").parquet(s"$dir/unsorted")
      frame.repartitionByRange(32, col("x")).sortWithinPartitions("x")
        .write.options(opts).mode("overwrite").parquet(s"$dir/sorted_x")
      val z = graft.io.ZOrder.zOrderKey(frame, Seq("x", "y"), bits = 8,
        bounds = Map("x" -> ((0.0, 4096.0)), "y" -> ((0.0, 4096.0))))
      frame.withColumn("__z", z).repartitionByRange(32, col("__z"))
        .sortWithinPartitions("__z").drop("__z")
        .write.options(opts).mode("overwrite").parquet(s"$dir/zorder")
      val shapes: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "x_range" -> (col("x") >= 1000 && col("x") < 1100),
        "y_range" -> (col("y") >= 2000 && col("y") < 2100),
        "x_and_y" -> (col("x") >= 1000 && col("x") < 1100 &&
          col("y") >= 2000 && col("y") < 2100))
      for (layout <- Seq("unsorted", "sorted_x", "zorder");
           (shape, pred) <- shapes) {
        spark.catalog.clearCache()
        val mtr = graft.observability.RunMetricsProbe.measure(
          spark.read.parquet(s"$dir/$layout").filter(pred))
        println(s"""{"op":"zorder_bytes","layout":"$layout","filter":"$shape"""" +
          s""","input_bytes":${mtr.inputBytes},"rows":${mtr.rows}""" +
          s""","secs":${mtr.wallMs / 1000.0}}""")
      }
    }

    // --- contiguous-id assignment (r11b): the naive global
    // row_number() sorts the WHOLE frame in one task (a single
    // reduce partition — the scale-killer the operator exists to
    // avoid); the partition-offset pattern keeps every sort parallel
    // and moves only a numPartitions-row offsets frame to the driver.
    // Same 20M-row frame, identical output ids (IdsSpec pins
    // equality); wall-clock + max single-task input are the evidence.
    if (!only.exists(!_.contains("assign_ids"))) {
      // k = id·48271 mod 20M is a bijection (gcd(48271, 2e7) = 1): a
      // scrambled UNIQUE key, as the operator's contract requires
      val frame = spark.range(20000000L)
        .select((col("id") * 48271L % 20000000L).as("k"))
        .localCheckpoint(true)
      def row(variant: String, df: DataFrame): Unit = {
        spark.catalog.clearCache()
        // consume row_id through a sum FILTERED on its value — a bare
        // count() lets the optimizer prune the window/join entirely
        // (and count-over-ungrouped-agg one-row-plans fold away too);
        // the filter forces the sum, which doubles as a correctness
        // pin: both variants must pass the n(n-1)/2 check
        val expected = 20000000L * (20000000L - 1) / 2
        val mtr = graft.observability.RunMetricsProbe
          .measure(df.agg(sum(col("row_id")).as("s"))
            .filter(col("s") === expected))
        require(mtr.rows == 1, s"assign_ids $variant: id-sum check failed")
        println(s"""{"op":"assign_ids","variant":"$variant"""" +
          s""","shuffle_write_bytes":${mtr.shuffleWriteBytes}""" +
          s""","secs":${mtr.wallMs / 1000.0}}""")
      }
      row("partition_offset",
        graft.operators.Ids.assignContiguousIds(frame, Seq("k"), numPartitions = Some(32)))
      row("naive_global_window",
        graft.operators.Ids.assignContiguousIdsNaive(frame, Seq("k")))
    }

    // --- BM25 postings prefilter (r11b): Relevance.bm25TopK filters
    // the exploded tokens to the query's terms BEFORE the (doc, term)
    // aggregation, so its exchange carries only matching postings. The
    // naive formulation aggregates the FULL tf matrix and filters
    // after — its exchange carries every distinct (doc, term) pair.
    // shuffle_write_bytes of the two variants is the before/after
    // volume; the gap grows with vocabulary size while the prefiltered
    // side grows only with query-term hit count.
    if (!only.exists(!_.contains("bm25_bytes"))) {
      val docs = scaledDocs(spark, sfDir, bigK)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(true) // both variants read the same materialised corpus
      val terms = Seq("dup", "vector", "scan")
      def bytesRow(variant: String, df: DataFrame): Unit = {
        spark.catalog.clearCache()
        val mtr = graft.observability.RunMetricsProbe.measure(df)
        println(s"""{"op":"bm25_bytes","variant":"$variant","scale":$bigK""" +
          s""","shuffle_write_bytes":${mtr.shuffleWriteBytes}""" +
          s""","rows":${mtr.rows},"secs":${mtr.wallMs / 1000.0}}""")
      }
      bytesRow("prefiltered",
        graft.text.Relevance.bm25TopK(docs, "doc_id", "text", terms, k = 20))
      // query terms arriving as DATA (a 3-row table) instead of plan
      // literals: the semi filter is now a join ABOVE the aggregation,
      // nothing pushes below the shuffle, and the full (doc, term)
      // matrix crosses the exchange — the shape a user gets when the
      // query set comes from another DataFrame
      bytesRow("terms_as_table", {
        import graft.text.TextFunctions.{normalizeText, tokens}
        import spark.implicits._
        val (k1, b) = (1.2, 0.75)
        val n = docs.count().toDouble
        val toks = docs.select(col("doc_id"), tokens(normalizeText(col("text"))).as("toks"))
          .withColumn("dl", size(col("toks")).cast("double"))
        val avgdl = toks.agg(avg("dl")).head().getDouble(0)
        val termsDf = terms.toDF("word")
        val post = toks
          .select(col("doc_id"), col("dl"), explode(col("toks")).as("word"))
          .groupBy("doc_id", "dl", "word").agg(count(lit(1)).cast("double").as("tf"))
          .join(termsDf, "word")
        val dfreq = post.groupBy("word").agg(count(lit(1)).cast("double").as("dfd"))
        val idf = log(lit(1.0) + (lit(n) - col("dfd") + 0.5) / (col("dfd") + 0.5))
        val norm = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))
        post.join(dfreq, "word")
          .groupBy("doc_id")
          .agg(round(sum(idf * col("tf") * lit(k1 + 1.0) / norm), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
      })
      bytesRow("full_tf", {
        import graft.text.TextFunctions.{normalizeText, tokens}
        val (k1, b) = (1.2, 0.75)
        val n = docs.count().toDouble
        val toks = docs.select(col("doc_id"), tokens(normalizeText(col("text"))).as("toks"))
          .withColumn("dl", size(col("toks")).cast("double"))
        val avgdl = toks.agg(avg("dl")).head().getDouble(0)
        val post = toks
          .select(col("doc_id"), col("dl"), explode(col("toks")).as("word"))
          .groupBy("doc_id", "dl", "word").agg(count(lit(1)).cast("double").as("tf"))
          .filter(col("word").isin(terms: _*))
        val dfreq = post.groupBy("word").agg(count(lit(1)).cast("double").as("dfd"))
        val idf = log(lit(1.0) + (lit(n) - col("dfd") + 0.5) / (col("dfd") + 0.5))
        val norm = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))
        post.join(dfreq, "word")
          .groupBy("doc_id")
          .agg(round(sum(idf * col("tf") * lit(k1 + 1.0) / norm), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
      })
    }

    // --- expectation-suite pass economy: the single-agg compilation vs
    // one job per constraint, same 7 constraints, k-replicated lineitem
    // MATERIALISED TO PARQUET first so the scan cost is real (a crossJoin
    // input would make re-reads free and hide exactly the cost the
    // one-pass design removes). input_bytes is the claim: N passes read
    // the corpus N times.
    if (!only.exists(o => !o.contains("expectations_passes") && !o.contains("mg_bytes"))) {
      val tmp = "/root/repo/target/scale_expect_tmp"
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .crossJoin(spark.range(bigK).select(col("id").as("__rep")))
        .withColumn("l_orderkey", col("l_orderkey") * bigK + col("__rep"))
        .drop("__rep")
        .write.mode("overwrite").parquet(tmp)
      def bigLi = spark.read.parquet(tmp)

      def ioRow(op: String, variant: String, df: DataFrame): Unit = {
        spark.catalog.clearCache()
        System.gc()
        val mtr = graft.observability.RunMetricsProbe.measure(df)
        println(s"""{"op":"$op","variant":"$variant","scale":$bigK""" +
          s""","input_bytes":${mtr.inputBytes}""" +
          s""","shuffle_write_bytes":${mtr.shuffleWriteBytes}""" +
          s""","rows":${mtr.rows},"secs":${mtr.wallMs / 1000.0}}""")
      }

      if (!only.exists(!_.contains("expectations_passes"))) {
        import graft.checks.Expectations._
        val suite = Seq(
          ExpectNotNull("l_quantity"), ExpectUnique("l_orderkey"),
          ExpectBetween("l_discount", 0.0, 0.1),
          ExpectMatches("l_linestatus", "^[OF]$"),
          ExpectInSet("l_returnflag", Seq("A", "N", "R")),
          ExpectMinRows(1000), ExpectMeanBetween("l_quantity", 20.0, 30.0))
        ioRow("expectations_passes", "one_pass",
          graft.checks.Expectations.run(bigLi, suite))
        ioRow("expectations_passes", "n_passes",
          suite.map(e => graft.checks.Expectations.run(bigLi, Seq(e)))
            .reduce(_.union(_)))
        // HLL uniqueness: the suite collapses to ONE scan with a
        // counter-width shuffle — no per-distinct-value exchange at all
        ioRow("expectations_passes", "one_pass_approx",
          graft.checks.Expectations.run(bigLi, suite.map {
            case u: graft.checks.Expectations.ExpectUnique =>
              u.copy(exact = false)
            case e => e
          }))
      }

      // --- Misra-Gries vs exact heavy hitters at high cardinality: the
      // exact path shuffles one row PER DISTINCT ITEM (cardinality grows
      // with the corpus); MG shuffles k counters per map task (constant).
      // shuffle_write_bytes is the scale claim, measured directly.
      if (!only.exists(!_.contains("mg_bytes"))) {
        def items = bigLi.select(when(col("l_orderkey") % 10 < 3,
            concat(lit("hot_"), col("l_orderkey") % 3))
          .otherwise(concat(lit("cold_"), col("l_orderkey"))).as("item"))
        ioRow("mg_bytes", "misra_gries",
          graft.core.Frequent.frequentItems(items, "item", 16))
        ioRow("mg_bytes", "exact_topk", items
          .groupBy("item").agg(count(lit(1)).as("est_count"))
          .orderBy(col("est_count").desc, col("item")).limit(16))
      }
    }

    // --- r11c rows: per-group top-k, pivot compilation, HLL sketches.
    // Inputs MATERIALISED to parquet first (a crossJoin-inflated input
    // makes scans free and hides IO; see SCALE.md measurement notes).
    if (!only.exists(o => !o.contains("topk_group") && !o.contains("pivot_agg")
        && !o.contains("hll_distinct") && !o.contains("encode_path")
        && !o.contains("ks_path") && !o.contains("cdc_latest"))) {
      val tmp = "/root/repo/target/scale_r11c_tmp"
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .crossJoin(spark.range(bigK).select(col("id").as("__rep")))
        .select(monotonically_increasing_id().as("id"),
          col("l_extendedprice").as("v"))
        .write.mode("overwrite").parquet(tmp)
      def base = spark.read.parquet(tmp)

      // by-name df: ksStatistic localCheckpoints EAGERLY at
      // construction — a strict parameter would run the heavy ranged
      // stage before the probe's listener attaches
      def ioRow2(op: String, variant: String, df: => DataFrame): Unit = {
        if (only.exists(!_.contains(op))) return
        spark.catalog.clearCache()
        System.gc()
        val mtr = graft.observability.RunMetricsProbe.measureLazy(spark, () => df)
        println(s"""{"op":"$op","variant":"$variant","scale":$bigK""" +
          s""","input_bytes":${mtr.inputBytes}""" +
          s""","shuffle_write_bytes":${mtr.shuffleWriteBytes}""" +
          s""","rows":${mtr.rows},"secs":${mtr.wallMs / 1000.0}}""")
      }

      // ONE giant group (90% of rows) — the regime where the bare rank
      // window serialises on a single task and the per-partition heap
      // prune does not
      def topkIn = base.select(
        when(col("id") % 10 < 9, lit("giant"))
          .otherwise(concat(lit("g"), col("id") % 97)).as("g"),
        col("id"), col("v"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").desc, col("id").asc)
      for (round <- 1 to 2) {
        ioRow2("topk_group", s"window_r$round", topkIn
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5))
        ioRow2("topk_group", s"pruned_r$round",
          graft.core.Ranking.topKPerGroup(topkIn, Seq("g"), "v", 5, "id"))
      }

      // the probe's count() action lets Catalyst PRUNE unreferenced
      // aggregate buffers (measured: pivot collapsed to distinct-k) and
      // short-circuit a global aggregate to "1 row" without running it
      // (measured: 7.4 s of pivot counted in 0.07 s); checksum every
      // column (bit_xor — order-independent, can't overflow under ANSI)
      // and FILTER on the checksum so count() must evaluate it
      def checksum(df: DataFrame): DataFrame = {
        val cs = df.columns.map(c => bit_xor(xxhash64(col(c))).as(s"cs_$c"))
        df.agg(cs.head, cs.tail: _*)
          .where(df.columns.map(c => col(s"cs_$c").isNotNull).reduce(_ || _))
      }

      // same grouped result, two compilations: Spark's PivotFirst
      // (aggregate twice, exchange twice — see the pre-rewrite
      // q_pivot_wide plan) vs conditional aggregation
      def pvIn = base.select((col("id") % 1000000).as("k"),
        concat(lit("p"), col("id") % 5).as("p"), col("v"))
      val pvVals = (0 until 5).map(i => s"p$i")
      for (round <- 1 to 2) {
        ioRow2("pivot_agg", s"pivot_first_r$round", checksum(
          pvIn.groupBy("k").pivot("p", pvVals).agg(sum(col("v")))))
        ioRow2("pivot_agg", s"cond_agg_r$round", checksum(
          graft.core.DataFrameOps.pivotWide(pvIn, Seq("k"), "p", "v", pvVals)))
      }

      // categorical encoding: count/avg-over-window shuffles every
      // corpus row into one task per category value (a 90%-hot
      // category serialises); the grouped-agg + broadcast-join path
      // exchanges category-cardinality rows. This is the structural
      // row behind q_freq_encode/q_target_encode's toy-scale ratios
      // (~2.0 there: 5 small categories, fixed job overhead dominates)
      def encIn = base.select(
        when(col("id") % 10 < 9, lit("hot"))
          .otherwise(concat(lit("c"), col("id") % 97)).as("cat"),
        col("v"))
      val ew = org.apache.spark.sql.expressions.Window.partitionBy("cat")
      for (r <- 1 to 2) {
        ioRow2("encode_path", s"window_r$r", checksum(
          encIn.withColumn("cat_enc",
            round((sum(col("v")).over(ew) + lit(20.0) *
              avg(col("v")).over(
                org.apache.spark.sql.expressions.Window.partitionBy())) /
              (count(col("v")).over(ew) + lit(20.0)), 6))))
        ioRow2("encode_path", s"agg_join_r$r", checksum(
          graft.core.Encode.targetEncode(encIn, "cat", "v", smoothing = 20.0)))
      }

      // CDC apply on a HOT-KEY changeset (90% of 4.8M events hit one
      // key): the operator reduces the changeset with max_by (one
      // candidate per key per map task); the window formulation sorts
      // the hot key's millions of events through one task
      def cdcSnap = base.select((col("id") % 150000).as("id"))
        .distinct().withColumn("payload", col("id").cast("double"))
      def cdcChanges = base.select(
        when(col("id") % 10 < 9, lit(0L)).otherwise(col("id") % 150000).as("id"),
        lit("U").as("op"), col("id").as("seq"), col("v").as("payload"))
      for (r <- 1 to 2) {
        ioRow2("cdc_latest", s"argmax_r$r", checksum(
          graft.operators.Cdc.applyChangeSet(cdcSnap, cdcChanges, "id")))
        ioRow2("cdc_latest", s"window_r$r", checksum {
          val snapDf = cdcSnap
          val wk = org.apache.spark.sql.expressions.Window
            .partitionBy("id").orderBy(col("seq").desc)
          val latest = cdcChanges
            .withColumn("__rn", row_number().over(wk)).filter(col("__rn") === 1)
            .select(col("id").as("__cdc_id"), col("op").as("__cdc_op"),
              col("payload").as("__cdc_payload"))
          snapDf.join(latest, snapDf("id") === col("__cdc_id"), "full_outer")
            .filter(col("__cdc_op").isNull || col("__cdc_op") =!= "D")
            .select(coalesce(snapDf("id"), col("__cdc_id")).as("id"),
              when(col("__cdc_op").isin("I", "U"), col("__cdc_payload"))
                .otherwise(snapDf("payload")).as("payload"))
        })
      }

      // exact KS: the naive cumulative sum is a single-partition
      // global-order window (one task sorts+walks every distinct
      // value); the operator's partition-offset path keeps the cumsum
      // parallel. ~3M distinct doubles after the value agg.
      def ksRef = base.filter(col("id") % 2 === 0).select(col("v"))
      def ksCur = base.filter(col("id") % 2 === 1)
        .select((col("v") * 1.001).as("v"))
      for (r <- 1 to 2) {
        // adaptive default at 1.8M distinct → cached single-task walk
        ioRow2("ks_path", s"adaptive_r$r",
          graft.core.Drift.ksStatistic(ksRef, ksCur, "v"))
        // forced distributed path (the beyond-one-task insurance)
        ioRow2("ks_path", s"offset_forced_r$r",
          graft.core.Drift.ksStatistic(ksRef, ksCur, "v",
            distinctThreshold = 0L))
        ioRow2("ks_path", s"global_window_r$r", {
          val u = ksRef.select(col("v"), lit(1L).as("nr"), lit(0L).as("nc"))
            .unionByName(ksCur.select(col("v"), lit(0L).as("nr"), lit(1L).as("nc")))
            .groupBy("v").agg(sum("nr").as("nr"), sum("nc").as("nc"))
          val w = org.apache.spark.sql.expressions.Window.orderBy("v")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)
          val tot = u.agg(sum("nr").as("tr"), sum("nc").as("tc"))
          u.withColumn("cr", sum("nr").over(w)).withColumn("cc", sum("nc").over(w))
            .crossJoin(broadcast(tot))
            .agg(first(col("tr")).as("n_ref"), first(col("tc")).as("n_cur"),
              round(max(abs(col("cr").cast("double") / col("tr") -
                col("cc").cast("double") / col("tc"))), 9).as("ks_stat"))
        })
      }

      // distinct counting at high cardinality: exact shuffles one row
      // per distinct value; the sketch shuffles fixed-width state
      def hIn = base.select((col("id") % 7).as("g"), (col("id") % 3000000).as("u"))
      for (round <- 1 to 2) {
        ioRow2("hll_distinct", s"exact_r$round", checksum(
          hIn.groupBy("g").agg(count_distinct(col("u")).as("n"))))
        ioRow2("hll_distinct", s"sketch_r$round", checksum(
          graft.core.Sketches.withEstimate(
            graft.core.Sketches.hllSketches(hIn, Seq("g"), "u"))
            .drop("hll_sketch")))
      }
    }

    // --- r13 grain rows: clusterSizeProfile / leakageSafeSplit /
    // windowedDistinctCounts. Each proves its claimed exchange grain
    // with a two-point scale measurement on MATERIALIZED inputs.
    locally {
      // synthetic pair graph at fixed density: every 50th doc pairs with
      // its neighbour; every 500th chains two pairs (non-trivial clusters)
      def pairsFor(docs: DataFrame): DataFrame = {
        val base = docs.select(col("doc_id").cast("long").as("id_a"))
        base.filter(col("id_a") % 50 === 0)
          .select(col("id_a"), (col("id_a") + 1).as("id_b"))
          .unionByName(base.filter(col("id_a") % 500 === 0)
            .select((col("id_a") + 1).as("id_a"), (col("id_a") + 2).as("id_b")))
      }
      for (k <- Seq(1, bigK)) {
        def docs = scaledDocs(spark, sfDir, k)
          .repartition(spark.sparkContext.defaultParallelism)
        val pdir = s"target/scale_r13/pairs_$k"
        pairsFor(docs).write.mode("overwrite").parquet(pdir)
        def pairs = spark.read.parquet(pdir)
        val nPairs = pairs.count()
        // cluster_size_profile touches ONLY the pair graph — wall must
        // track n_pairs, corpus size never appears in the plan
        timed("cluster_size_profile", "scale" -> k.toLong, "n_pairs" -> nPairs)(
          () => Dedup.clusterSizeProfile(pairs))
        // leakage_split: clustering at pair-graph grain + ONE corpus
        // join (AQE-broadcastable cluster map) + narrow md5 labeling
        timed("leakage_split", "scale" -> k.toLong, "n_pairs" -> nPairs)(
          () => Dedup.leakageSafeSplit(docs, "doc_id", pairs,
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "r13"))
      }
    }

    // windowedDistinctCounts register-state row: a REAL watermarked
    // stream (AvailableNow, memory sink); the state operator must hold
    // (windows × keys) sketch rows — NOT one row per distinct value,
    // which is what the exact formulation would keep and what OOMs at
    // corpus scale. n_distinct_pairs is the state the exact plan would
    // hold; state_rows is what the HLL plan actually held.
    def windowedDistinctRow(k: Int): Unit = {
      if (only.exists(!_.contains("windowed_distinct_state"))) return
      import spark.implicits._
      val n = 500000L * k
      val inDir = s"target/scale_r13/events_$k"
      spark.range(n).select(
        timestamp_millis(lit(1700000000000L) + (col("id") % 86400L) * 1000L).as("ts"),
        (col("id") % 4).cast("string").as("etype"),
        col("id").as("user_id"))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(inDir)
      val streamed = spark.readStream
        .schema(spark.read.parquet(inDir).schema).parquet(inDir)
      val agg = graft.streaming.Streaming.windowedDistinctCounts(
        streamed.withWatermark("ts", "1 hour"), "ts", "etype", "user_id",
        "1 hour", lgK = 12)
      val qName = s"wds_$k"
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val q = agg.writeStream.format("memory").queryName(qName)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(300000)) {
        q.stop(); sys.error(s"windowedDistinctRow($k): stream did not finish")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.flatMap(_.stateOperators)
      val stateRows = if (progs.isEmpty) 0L else progs.map(_.numRowsTotal).max
      val nDistinctPairs = spark.read.parquet(inDir)
        .select(window(col("ts"), "1 hour"), col("etype"), col("user_id"))
        .distinct().count()
      println(s"""{"op":"windowed_distinct_state","scale":$k""" +
        s""","secs":${math.rint(secs * 100) / 100}""" +
        s""","state_rows":$stateRows,"n_distinct_pairs":$nDistinctPairs}""")
    }
    for (k <- Seq(1, bigK)) windowedDistinctRow(k)

    // Aho-Corasick claim: ONE pass over the text regardless of how many
    // patterns the blocklist holds — wall stays flat as P grows, where
    // the HOF form (filter(patterns, p -> contains(text, p))) rescans
    // the document once per pattern and grows linearly in P. Both
    // variants read the same materialised corpus and are consumed
    // through the size(matched) filter (count()-pruning guard). The
    // whole block is gated so a targeted run of OTHER rows doesn't pay
    // the corpus materialisation.
    if (only.forall(o => Seq("keyword_scan_automaton", "keyword_scan_hof",
      "subword_count_kernel", "subword_count_regex", "curation_pipeline")
      .exists(o.contains))) {
      val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
        "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
        "window", "order", "data", "column", "join", "small", "customer",
        "query", "big", "group", "stream", "vector", "filter")
      val phrases = (for (a <- vocab; b <- vocab) yield s"$a $b").distinct
      val docs = scaledDocs(spark, sfDir, bigK)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      docs.count() // materialise OUTSIDE the timed rows
      for (p <- Seq(8, 64, 256)) {
        val pats = phrases.take(p)
        timed("keyword_scan_automaton", "patterns" -> p.toLong)(() =>
          graft.text.Keywords.tagKeywords(docs, "text", pats)
            .where(size(col("matched")) > 0).select(col("doc_id")))
        timed("keyword_scan_hof", "patterns" -> p.toLong)(() => {
          val arr = array(pats.distinct.sorted.map(lit): _*)
          docs.select(col("doc_id"),
            array_sort(filter(arr, x => contains(lower(col("text")), x)))
              .as("matched"))
            .where(size(col("matched")) > 0).select(col("doc_id"))
        })
      }

      // subword tokenizer throughput (r13): the greedy WordPiece count
      // kernel vs the regex BPE-ish count — both narrow codegen'd
      // scans; the row shows the vocab-driven matcher costs the same
      // order as the regex it upgrades. Consumed through a filter on
      // the count (count()-pruning guard).
      locally {
        val words = graft.text.Subword
          .buildWordVocab(docs, "text", maxWords = 100000)
          .collect().map(_.getString(0)).toSeq
        val v = words ++ graft.text.Subword.charFallback(words)
        timed("subword_count_kernel")(() =>
          docs.select(graft.text.Subword.subwordCount(
            graft.text.TextFunctions.normalizeText(col("text")), v).as("n"))
            .where(col("n") >= 0))
        timed("subword_count_regex")(() =>
          docs.select(graft.text.TextFunctions.bpeTokenCount(col("text")).as("n"))
            .where(col("n") >= 0))
      }

      // composed curation pipeline at x1/x8: three fused narrow filter
      // stages + one dedup window + a domain-cardinality aggregate —
      // the wall must track the corpus linearly (no hidden
      // super-linear exchange anywhere in the composition)
      locally {
        val hosts = Seq("news.example.com", "blog.sample.org",
          "shop.acme.co.uk", "data.mirror.net", "example.com.au",
          "weird.deep.site.co.jp", "cdn.images.io", "www.blocked.com",
          "localhost", "192.168.10.1", "docs.example.ac.uk",
          "big.mirror.net")
        val blockWords = Seq("slow scan", "customer query", "vector")
        for (k <- Seq(1, bigK)) {
          def curated() = {
            val d = scaledDocs(spark, sfDir, k)
              .repartition(spark.sparkContext.defaultParallelism)
              .withColumn("url", concat(lit("https://"),
                element_at(array(hosts.map(lit): _*),
                  (col("doc_id") % 12).cast("int") + 1),
                lit("/p/"), col("doc_id")))
            val afterUrl = graft.text.UrlFunctions.filterBlockedDomains(
              d, "url", Seq("blocked.com"))
            val afterKw = graft.text.Keywords.filterBlockedKeywords(
              afterUrl, "text", blockWords)
            val gated = afterKw
              .withColumn("quality",
                graft.text.TextFunctions.qualityScore(col("text")))
              .filter(col("quality") >= 0.5)
            graft.dedup.Dedup.exactDedup(gated, "text", "doc_id")
              .groupBy(graft.text.UrlFunctions.urlDomain(col("url"))
                .as("domain"))
              .agg(count(lit(1)).as("n_docs"))
          }
          timed("curation_pipeline", "scale" -> k.toLong)(() => curated())
        }
      }
    }

    // Composed web pipeline (r15): fence placement is the whole story.
    // Unfenced, predicate pushdown sinks the link-density filter and
    // the Gopher gate below the extract projection, substituting the
    // strip-chain regex tree into every pushed reference (754
    // regexp_replace nodes in the optimized plan; 5.78 s at sf0.1 —
    // BENCHLOG r14). The library path pins both stage boundaries with
    // DataFrameOps.stageFence (a no-op CollectMetrics barrier — rows
    // stream through, nothing materializes); the comparator is the
    // user-naive robust alternative, materializing the extracted text
    // with an eager localCheckpoint between stages. The composed path
    // must track it ~1:1 at both scales while skipping the
    // materialization entirely.
    locally {
      def webDocs(k: Int) = {
        val id = col("doc_id").cast("string")
        scaledDocs(spark, sfDir, k)
          .repartition(spark.sparkContext.defaultParallelism)
          .withColumn("html", concat(
            lit("<html><head><title>Doc &amp; "), id,
            lit("</title><style>p { color: red }</style>"),
            lit("<script>var x = \"<p>hi</p>\";</script></head><body>"),
            lit("<!-- nav --><h1>Header "), id, lit("</h1><ul>"),
            lit("<li><a href=\"/home\">Home</a></li>"),
            lit("<li><a href=\"/p/"), id, lit("\">Next page "), id,
            lit("</a></li></ul><p>"), col("text"),
            lit(" end.</p></body></html>")))
      }
      def gate(ex: DataFrame) =
        graft.text.QualityRules.gopherFlags(ex, "text_extracted",
          minStopwords = 1)
          .where(col("gopher_pass"))
          .select(col("doc_id"),
            graft.text.TextFunctions.tokenCount(col("text_extracted"))
              .cast("long").as("n_tok"))
      for (k <- Seq(1, bigK)) {
        timed("pipeline_web_composed", "scale" -> k.toLong)(() =>
          gate(graft.core.DataFrameOps.stageFence(
            graft.text.Html.extract(webDocs(k), "html")
              .select("doc_id", "link_density", "text_extracted"))
            .filter(col("link_density") <= 0.5)
            .select("doc_id", "text_extracted")))
        timed("pipeline_web_staged_ckpt", "scale" -> k.toLong)(() =>
          gate(graft.text.Html.extract(webDocs(k), "html")
            .select("doc_id", "link_density", "text_extracted")
            .localCheckpoint(true)
            .filter(col("link_density") <= 0.5)
            .select("doc_id", "text_extracted")))
      }
    }

    // Chat pipeline stage itemisation (r15): q_pipeline_chat's wall is
    // dominated by the FIXTURE (syntheticConversationTable slices every
    // doc's token array into turns via interpreted HOF lambdas — test
    // scaffolding, not the operator) — the operator chain itself
    // (kernel render + token weights + manifest-grain packing) is the
    // cheap part, and packing must stay flat in token mass (row grain).
    locally {
      for (k <- Seq(1, bigK)) {
        def conv = {
          val docs = scaledDocs(spark, sfDir, k)
            .repartition(spark.sparkContext.defaultParallelism)
          graft.text.Conversations.syntheticConversationTable(
            docs, "doc_id", "text")
        }
        timed("chat_fixture_only", "scale" -> k.toLong)(() => conv)
        timed("chat_render_weights", "scale" -> k.toLong)(() =>
          conv.select(col("conv_id"),
            pmod(col("conv_id"), lit(4)).as("shard"),
            graft.text.Conversations.renderConversation(col("turns")).as("txt"))
            .withColumn("w",
              graft.text.TextFunctions.tokenCount(col("txt")).cast("long")))
        timed("chat_full_pipeline", "scale" -> k.toLong)(() => {
          val weighted = conv.select(col("conv_id"),
            pmod(col("conv_id"), lit(4)).as("shard"),
            graft.text.Conversations.renderConversation(col("turns")).as("txt"))
            .withColumn("w",
              graft.text.TextFunctions.tokenCount(col("txt")).cast("long"))
          graft.core.Sampling.packTokenWindows(
            weighted, "w", 512, Seq("shard"), "conv_id")
        })
        timed("chat_full_fenced", "scale" -> k.toLong)(() => {
          val weighted = graft.core.DataFrameOps.stageFence(
            conv.select(col("conv_id"),
              pmod(col("conv_id"), lit(4)).as("shard"),
              graft.text.Conversations.renderConversation(col("turns")).as("txt"))
              .withColumn("w",
                graft.text.TextFunctions.tokenCount(col("txt")).cast("long")))
          graft.core.Sampling.packTokenWindows(
            weighted, "w", 512, Seq("shard"), "conv_id")
        })
      }
    }

    // Stats exact-quantile routing (r15): winsorize/robustScale
    // exact=true now derive bounds from the range-exchange rank
    // machinery instead of the `percentile` aggregate, whose buffer
    // holds EVERY value of a group in one task. The regime that
    // matters is a dominant group (~90% of the corpus on one key —
    // one language dominating a crawl): the aggregate serialises the
    // dominant group's whole value set through one buffer while the
    // rank path range-partitions it across the cluster. Inputs are
    // MATERIALIZED parquet (SCALE.md benchmark-design rule).
    locally {
      for (k <- Seq(1, bigK)) {
        val dir = s"target/scale_r15/stats_skew_$k"
        if (!new java.io.File(dir).exists()) {
          val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
            .select(col("l_orderkey").cast("long").as("key"),
              col("l_extendedprice").cast("double").as("v"))
          (0 until k).map(i => li.withColumn("key", col("key") + i * 100000000L))
            .reduce(_ unionByName _)
            .withColumn("g",
              when(col("key") % 100 < 90, lit("hot"))
                .otherwise((col("key") % 5).cast("string")))
            .select("g", "v")
            .repartition(32).write.mode("overwrite").parquet(dir)
        }
        def skewed = spark.read.parquet(dir)
        timed("stats_winsorize_ranked", "scale" -> k.toLong)(() => {
          // pin the rank path: the ×1 input (600k) is below the
          // adaptive crossover, and this row exists to compare the
          // two machineries, not the router
          spark.conf.set(graft.core.Quantiles.SmallInputRowsConf, "0")
          try graft.core.Stats.winsorize(skewed, Seq("g"), "v",
            lowP = 0.05, highP = 0.95)
          finally spark.conf.unset(graft.core.Quantiles.SmallInputRowsConf)
        })
        timed("stats_winsorize_pctagg", "scale" -> k.toLong)(() => {
          // the retired formulation: per-group `percentile` aggregate
          val v = col("v").cast("double")
          val bounds = skewed.groupBy("g")
            .agg(percentile(v, lit(0.05)).as("lo"),
              percentile(v, lit(0.95)).as("hi"))
          skewed.join(bounds, Seq("g"))
            .withColumn("v_wins", round(least(greatest(v, col("lo")), col("hi")), 6))
            .drop("lo", "hi")
        })
      }
    }

    // packTokenWindows manifest grain: the concat-and-chunk layout
    // must stay O(corpus ROWS), never O(corpus TOKENS) — out_rows is
    // the manifest size (≈ n_docs + n_sequences), total_tokens the
    // token mass the naive token-grain explode would shuffle. Wall
    // tracks rows; the n_tokens tag documents the grain gap.
    if (only.forall(_.exists(_.contains("pack_windows_manifest")))) {
      for (k <- Seq(1, bigK)) {
        val docs = scaledDocs(spark, sfDir, k)
          .repartition(spark.sparkContext.defaultParallelism)
          .select(col("doc_id").cast("long").as("doc_id"),
            (col("doc_id") % 4).cast("string").as("source"),
            graft.text.TextFunctions.tokenCount(col("text")).cast("long")
              .as("w"))
        val wdir = s"target/scale_r13/packw_$k"
        docs.write.mode("overwrite").parquet(wdir)
        def weighted = spark.read.parquet(wdir)
        val nTokens = weighted.agg(sum("w")).head.getLong(0)
        timed("pack_windows_manifest", "scale" -> k.toLong,
          "n_tokens" -> nTokens)(() =>
          graft.core.Sampling.packTokenWindows(
            weighted, "w", 512, Seq("source"), "doc_id"))
      }
    }

    // --- MMR re-rank cost pinned (r16, VERDICT nit 1): candidate-pool
    // sweep. The operator is ~2·k driver-issued actions per call by
    // design (k greedy steps, each a checkpointed batch-bounded join +
    // argmax); wall must track (candidates² per query for the pair
    // table) + (k steps), never any corpus. Synthetic deterministic
    // vectors (hash arithmetic — no RNG), 4 queries per row.
    if (only.forall(_.exists(_.contains("mmr_rerank")))) {
      val dim = 32
      def vecs(n: Long) = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => (pmod(xxhash64(col("id"), i), lit(1000L)).cast("double") /
            500.0) - 1.0).as("embedding"))
      // pin the distributed path (the 100-candidate row would route to
      // the driver loop): these rows are the distributed cost story
      spark.conf.set(graft.similarity.Similarity.MmrSmallPoolRowsConf, "0")
      try {
        for ((nc, kk) <- Seq((100, 10), (1000, 10), (1000, 50))) {
          val emb = vecs(4L * nc).localCheckpoint(true)
          val cands = spark.range(4L * nc).select(
              (col("id") % 4).as("query_id"), col("id").as("corpus_id"),
              (pmod(xxhash64(col("id")), lit(1000L)).cast("double") / 1000.0)
                .as("rel"))
            .localCheckpoint(true)
          timed("mmr_rerank", "cands" -> nc.toLong, "k" -> kk.toLong)(() =>
            graft.similarity.Similarity.mmrRerank(cands, emb,
              "vec_id", "embedding", k = kk, maxCandidatesPerQuery = nc))
        }
      } finally spark.conf
        .unset(graft.similarity.Similarity.MmrSmallPoolRowsConf)
    }

    // --- incremental connected components (r16): artifact relabel vs
    // full recompute. Base graph = chains of 100 nodes (10k·scale
    // components); the batch joins 1000 adjacent chains. The
    // incremental path contracts only the touched-LABEL graph
    // (batch-sized) and takes ONE broadcast relabel pass over the
    // artifact; the full path re-runs large-star/small-star over every
    // historical edge. Distributed CC forced on both (localMaxEdges=0)
    // — the regime where the recompute actually costs.
    if (only.forall(_.exists(_.contains("cc_")))) {
      for (mult <- Seq(1, bigK)) {
        val nNodes = 1000000L * mult
        val ccDir = s"target/scale_r16/cc_$mult"
        if (!new java.io.File(s"$ccDir/edges").exists()) {
          spark.range(nNodes - 1)
            .filter(col("id") % 100 =!= 99)
            .select(col("id").as("a"), (col("id") + 1).as("b"))
            .repartition(spark.sparkContext.defaultParallelism)
            .write.mode("overwrite").parquet(s"$ccDir/edges")
          graft.operators.Graph.saveComponents(
            spark.read.parquet(s"$ccDir/edges"), "a", "b", s"$ccDir/cc",
            localMaxEdges = 0L)
        }
        def edges = spark.read.parquet(s"$ccDir/edges")
        def batch = spark.range(1000)
          .select((col("id") * 200 + 99).as("a"),
            (col("id") * 200 + 100).as("b"))
        timed("cc_incremental", "scale" -> mult.toLong)(() =>
          graft.operators.Graph.connectedComponentsAgainstRef(
            batch, s"$ccDir/cc", "a", "b", localMaxEdges = 0L))
        // r17: the relabel-join fallback (graft.graph.smallMappingRows=0
        // forces the shuffle join a giant batch would route to) —
        // prices the degradation the broadcast bound protects against
        // vs the broadcast fast path above
        spark.conf.set(graft.operators.Graph.SmallMappingRowsConf, "0")
        try
          timed("cc_relabel_shuffle", "scale" -> mult.toLong)(() =>
            graft.operators.Graph.connectedComponentsAgainstRef(
              batch, s"$ccDir/cc", "a", "b", localMaxEdges = 0L))
        finally spark.conf.unset(graft.operators.Graph.SmallMappingRowsConf)
        timed("cc_full", "scale" -> mult.toLong)(() =>
          graft.operators.Graph.connectedComponents(
            edges.unionByName(batch), "a", "b", localMaxEdges = 0L))
        // r18 (r17 verdict #3): per-ingest FIXED cost. The r17/r18
        // shape runs 4 eager localCheckpoints + 2 crossover counts per
        // ingest, plus the default-on sampled canonicality probe (a
        // limit-collect + a pushed-IN filtered count). New-node-only
        // batches at sizes spanning 4 decades against the same 1M-node
        // artifact: flat readings = fixed jobs dominate that regime;
        // the probe=0 arm prices the probe alone.
        if (mult == 1) {
          def newBatch(bs: Long) = spark.range(bs)
            .select((lit(nNodes) + col("id") * 2).as("a"),
              (lit(nNodes) + col("id") * 2 + 1).as("b"))
          for (bs <- Seq(10L, 1000L, 100000L); probeOn <- Seq(true, false)) {
            if (!probeOn) spark.conf
              .set(graft.operators.Graph.CanonicalProbeLabelsConf, "0")
            try
              timed("cc_small_batch", "batch" -> bs,
                  "probe" -> (if (probeOn) 1L else 0L))(() =>
                graft.operators.Graph.connectedComponentsAgainstRef(
                  newBatch(bs), s"$ccDir/cc", "a", "b", localMaxEdges = 0L))
            finally if (!probeOn) spark.conf
              .unset(graft.operators.Graph.CanonicalProbeLabelsConf)
          }
        }
      }
    }

    spark.stop()
  }
}
