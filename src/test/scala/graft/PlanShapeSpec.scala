package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the properties that matter at 100 TB
  * are visible in the optimized/executed plan — assert them so a
  * refactor cannot silently reintroduce a scale-killer.
  */
class PlanShapeSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = spark.range(200).toDF("doc_id")
    .withColumn("text",
      concat_ws(" ", lit("alpha beta gamma delta"), col("doc_id").cast("string")))

  /** `body` under `spark.sql.autoBroadcastJoinThreshold = v`, the prior
    * setting restored. Threshold −1 sends the within-corpus LSH pairings
    * to their distributed route. */
  private def withBroadcastBudget[T](v: String)(body: => T): T =
    withSessionConf("spark.sql.autoBroadcastJoinThreshold", v)(body)

  test("MinHash LSH exchange carries only id/band/bucket — no text or shingle payload") {
    val plan = withBroadcastBudget("-1")(dedup.Dedup.minHashNearDuplicates(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString)
    // every Exchange's output must not include the text or hash-set cols
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    val bandExchanges = exchanges.filter(_.contains("band"))
    assert(bandExchanges.nonEmpty, s"expected banded exchange in:\n$plan")
    bandExchanges.foreach { e =>
      assert(!e.contains("text") && !e.contains("hs#"),
        s"LSH exchange carries payload columns:\n$e")
    }
  }

  /** Each LSH pair operator with the number of checkpoint actions it
    * runs — one per text corpus, except cross pairs, which fence both
    * corpora in one action (a side-tagged union), 2 before the fence
    * dropped origin constraints — and the bounded collects that pair a
    * base within the broadcast budget on the driver. */
  private def lshOperators: Seq[(String, Int, Int, () => org.apache.spark.sql.DataFrame)] = Seq(
    ("minHashNearDuplicates", 1, 1,
      () => dedup.Dedup.minHashNearDuplicates(docs, "text", "doc_id")),
    ("ngramJaccardNearDuplicates", 1, 1,
      () => dedup.Dedup.ngramJaccardNearDuplicates(docs, "text", "doc_id")),
    ("simHashNearDuplicates", 1, 0,
      () => dedup.Dedup.simHashNearDuplicates(docs, "text", "doc_id", maxHamming = 6)),
    ("simHash128NearDuplicates", 1, 0,
      () => dedup.Dedup.simHash128NearDuplicates(docs, "text", "doc_id")),
    ("minHashCrossPairs", 1, 0, () => dedup.Dedup.minHashCrossPairs(
      docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
      "text", "doc_id")))

  test("LSH pair plans evaluate no text or hash kernel: the base is fenced") {
    val kernels = Seq("shingle_hashes", "ngram_hashes", "token_hashes",
      "minhash_signature", "simhash64", "simhash128")
    // both routes: the distributed plan, and the driver route's local frame
    for (budget <- Seq("-1", "10485760"); (name, _, _, build) <- lshOperators) {
      val plan = withBroadcastBudget(budget)(build().queryExecution.executedPlan.toString)
      val found = kernels.filter(plan.contains)
      assert(found.isEmpty, s"$name: plan evaluates ${found.mkString(", ")}:\n$plan")
    }
  }

  test("within the broadcast budget the within-corpus LSH pairs are a local frame") {
    // the driver route: one bounded collect at construction, and a
    // returned plan with no exchange and no join
    val refPath = java.nio.file.Files.createTempDirectory("graft_plan_lshref").toString + "/ref"
    dedup.Dedup.saveMinHashRef(docs.filter(col("doc_id") < 100), "text", "doc_id", refPath)
    withBroadcastBudget("10485760") {
      for ((name, out) <- Seq(
          "minHashNearDuplicates" -> dedup.Dedup.minHashNearDuplicates(docs, "text", "doc_id"),
          "ngramJaccardNearDuplicates" ->
            dedup.Dedup.ngramJaccardNearDuplicates(docs, "text", "doc_id"),
          "minHashPairsFromRef" -> dedup.Dedup.minHashPairsFromRef(spark, refPath))) {
        val plan = out.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange") && !plan.contains("Join"),
          s"$name: under the budget the pairs must be local:\n$plan")
        assert(plan.contains("LocalTableScan"), s"$name: expected a local frame:\n$plan")
      }
      // the batch↔batch half of the incremental edges, beside the
      // cross pairs' distributed join
      import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
      val edges = dedup.Dedup.minHashIncrementalEdges(
        docs.filter(col("doc_id") >= 100), refPath, "text", "doc_id").queryExecution.analyzed
      val batchHalf = edges.collectFirst { case u: Union => u.children.head }
      assert(batchHalf.exists(_.isInstanceOf[LocalRelation]),
        s"minHashIncrementalEdges: the batch half must be local:\n$edges")
    }
  }

  /** The physical plans `build` runs behind fences, by fence name: the
    * initial plan of each `graft.fence:<name>` SQL execution. */
  private def fencePlans(build: => Any): Map[String, org.apache.spark.sql.execution.SparkPlanInfo] = {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val plans = new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.execution.SparkPlanInfo]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(ev: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        ev match {
          case e: SparkListenerSQLExecutionStart if e.description.startsWith("graft.fence:") =>
            plans.put(e.description.stripPrefix("graft.fence:"), e.sparkPlanInfo)
          case _ =>
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try { build; org.apache.spark.sql.graft.ListenerBridge.drain(sc) }
    finally sc.removeSparkListener(listener)
    scala.jdk.CollectionConverters.MapHasAsScala(plans).asScala.toMap
  }

  test("an LSH fence runs each text kernel once, above its exchange") {
    import org.apache.spark.sql.execution.SparkPlanInfo
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    def count(p: SparkPlanInfo, kernel: String) =
      nodes(p).map(_.simpleString.split(java.util.regex.Pattern.quote(kernel + "("), -1).length - 1).sum
    for ((fence, kernel, build) <- Seq[(String, String, () => Any)](
        ("minHashBase", "shingle_hashes",
          () => dedup.Dedup.minHashNearDuplicates(docs, "text", "doc_id")),
        ("minHashCrossPairs", "shingle_hashes", () => dedup.Dedup.minHashCrossPairs(
          docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
          "text", "doc_id")),
        ("ngramJaccardNearDuplicates", "ngram_hashes",
          () => dedup.Dedup.ngramJaccardNearDuplicates(docs, "text", "doc_id")))) {
      val plan = fencePlans(build()).getOrElse(fence, fail(s"no fence named $fence"))
      val all = nodes(plan)
      val shown = all.map(_.simpleString).mkString("\n")
      for (k <- Seq(kernel, "regexp_replace"))
        assert(count(plan, k) == 1, s"$fence evaluates $k ${count(plan, k)} times:\n$shown")
      val above = all.filter(_.simpleString.contains(kernel + "("))
      assert(above.forall(n => nodes(n).exists(_.nodeName == "Exchange")),
        s"$fence evaluates $kernel below its exchange:\n$shown")
    }
  }

  test("the quality gate's filter runs no split or regex") {
    val plan = docs.filter(text.TextFunctions.qualityScore(col("text")) >= 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("quality_score("), plan)
    assert(!plan.contains("split(") && !plan.contains("regexp_replace("), plan)
  }

  test("building an LSH pair operator runs one checkpoint action per text corpus") {
    // one eager localCheckpoint per corpus; under AQE it is two jobs —
    // the leading repartition's shuffle stage, then the checkpoint —
    // and a driver-route collect is one
    for ((name, actions, collects, build) <- lshOperators) {
      val m = observability.RunMetricsProbe.measureEager(spark)(build())
      assert(m.jobs == 2 * actions + collects, s"$name: construction ran ${m.jobs} jobs")
    }
  }

  test("assignContiguousIds plans no exchange above its fence") {
    // offsets come from the fence's per-partition counts: no shuffle on
    // the partition id, no offsets aggregate, no broadcast join
    val plan = operators.Ids.assignContiguousIds(docs, Seq("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"the ids plan must be narrow:\n$plan")
  }

  test("construction-time jobs of the fencing operators are pinned") {
    // a fresh session: confs other specs leave set on the shared one
    // (probe caps, crossover bounds) would move the counts
    val s = spark.newSession()
    def withConf[T](k: String, v: String)(body: => T): T = {
      s.conf.set(k, v)
      try body finally s.conf.unset(k)
    }
    val docs = s.range(200).toDF("doc_id")
      .withColumn("text",
        concat_ws(" ", lit("alpha beta gamma delta"), col("doc_id").cast("string")))
    val chain = s.range(2000).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val chainCandidates = s.range(199).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val artifact = operators.Graph.connectedComponents(
      s.range(100).select(col("id").as("a"), (col("id") + 1).as("b")), "a", "b")
    val batchEdges = s.createDataFrame(Seq((100L, 150L), (150L, 151L), (300L, 301L)))
      .toDF("a", "b")
    val strEdges = s.createDataFrame(Seq(("a", "b"), ("b", "c"), ("x", "y"))).toDF("s", "d")
    val evalDocs = docs.filter(col("doc_id") < 5)
    val byGroup = docs.withColumn("g", col("doc_id") % 3)
    val battles = s.createDataFrame(Seq(("m1", "m2", "a"), ("m2", "m3", "b"),
      ("m1", "m3", "a"), ("m3", "m1", "tie"))).toDF("model_a", "model_b", "winner")
    val rnd = new scala.util.Random(7L)
    val vecs = s.createDataFrame((0 until 64).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextGaussian())))).toDF("id", "vec")
    val candidates = similarity.Similarity.bruteForceTopK(
        vecs.filter(col("id") >= 2), vecs.filter(col("id") < 2), "id", "vec", k = 5)
      .select(col("query_id"), col("corpus_id"), col("sim").as("rel"))
    val codebooks = similarity.Pq.trainCodebooks(vecs, "id", "vec", m = 2, k = 8)
    val encoded = similarity.Pq.encode(vecs, "id", "vec", codebooks)
    val baseKeys = dedup.SubstringDedup.windowKeys(docs.filter(col("doc_id") < 100),
      "doc_id", "text", k = 3)
    val budget = "spark.sql.autoBroadcastJoinThreshold"
    val refPath = java.nio.file.Files.createTempDirectory("graft_jobs_lshref").toString + "/ref"
    dedup.Dedup.saveMinHashRef(docs.filter(col("doc_id") < 100), "text", "doc_id", refPath)
    // (operator, jobs, jobs before the change that last moved them —
    // the one fence, or the driver route of the within-corpus LSH
    // pairing, whose bounded collect is one more job — body), measured
    // with AQE off: under AQE each shuffle stage is a job of its own and
    // a join re-planned when a stage completes can drop a sibling stage,
    // so counts move with stage timing (duplicateClusters read 87 and
    // 75 jobs on one tree)
    val table: Seq[(String, Int, Option[Int], () => Any)] = Seq(
      ("minHashNearDuplicates", 2, Some(1),
        () => dedup.Dedup.minHashNearDuplicates(docs, "text", "doc_id")),
      ("ngramJaccardNearDuplicates", 2, Some(1),
        () => dedup.Dedup.ngramJaccardNearDuplicates(docs, "text", "doc_id")),
      ("minHashPairsFromRef", 3, Some(2),
        () => dedup.Dedup.minHashPairsFromRef(s, refPath)),
      ("minHashIncrementalEdges", 4, Some(3), () => dedup.Dedup.minHashIncrementalEdges(
        docs.filter(col("doc_id") >= 100), refPath, "text", "doc_id")),
      ("minHashCrossPairs", 1, Some(2), () => dedup.Dedup.minHashCrossPairs(
        docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
        "text", "doc_id")),
      ("minHashDedupAgainst", 1, Some(2), () => dedup.Dedup.minHashDedupAgainst(
        docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
        "text", "doc_id")),
      ("duplicateClusters", 38, Some(46),
        () => dedup.Dedup.duplicateClusters(chain, localMaxEdges = 0)),
      ("pairQuality", 7, Some(9),
        () => dedup.Dedup.pairQuality(docs, chainCandidates, "text", "doc_id")),
      ("bloomDecontaminate", 3, None, () => withConf(budget, "-1")(
        dedup.Dedup.bloomDecontaminate(docs, evalDocs, "text", "doc_id", n = 3,
          maxDriverGrams = 1))),
      ("dedupSubstringsAgainstKeys", 2, None, () => dedup.SubstringDedup
        .dedupSubstringsAgainstKeys(baseKeys, docs.filter(col("doc_id") >= 100),
          "doc_id", "text", k = 3)),
      ("assignContiguousIds", 2, None,
        () => operators.Ids.assignContiguousIds(docs, Seq("doc_id"))),
      ("assignGroupRanks", 2, None,
        () => operators.Ids.assignGroupRanks(byGroup, Seq("g"), Seq("doc_id"))),
      ("exactQuantiles", 2, Some(4), () => withConf(budget, "-1")(
        core.Quantiles.exactQuantiles(docs, "doc_id", Seq(0.1, 0.5)))),
      ("exactInterpolatedQuantiles", 2, Some(4), () => withConf(budget, "-1")(
        core.Quantiles.exactInterpolatedQuantiles(docs, "doc_id", Seq(0.1, 0.5)))),
      ("exactQuantiles by group", 2, Some(4), () => withConf(budget, "-1")(
        core.Quantiles.exactQuantiles(byGroup, "doc_id", Seq(0.5), Seq("g")))),
      ("connectedComponentsAgainst", 11, Some(10), () => operators.Graph
        .connectedComponentsAgainst(artifact, batchEdges, "a", "b")),
      ("connectedComponentsStringIds", 3, None,
        () => operators.Graph.connectedComponentsStringIds(strEdges, "s", "d")),
      ("mmrRerank", 18, Some(13), () => withConf(similarity.Similarity.MmrSmallPoolRowsConf, "0")(
        similarity.Similarity.mmrRerank(candidates, vecs, "id", "vec", k = 3))),
      ("adcTopK", 1, None, () => similarity.Pq.adcTopK(
        encoded, vecs.filter(col("id") < 2), "id", "vec", codebooks, k = 3)),
      ("bradleyTerryScores", 35, Some(26),
        () => core.Preferences.bradleyTerryScores(battles, "model_a", "model_b", "winner")))
    val measured = withConf("spark.sql.adaptive.enabled", "false") {
      table.map { case (name, _, _, build) =>
        name -> observability.RunMetricsProbe.measureEager(s)(build()).jobs
      }
    }
    info(measured.map { case (n, j) => s"$n=$j" }.mkString(", "))
    val off = table.zip(measured).collect {
      case ((name, want, parent, _), (_, got)) if got != want =>
        s"$name: $got jobs, pinned $want" + parent.fold("")(p => s" (before its last change: $p)")
    }
    assert(off.isEmpty, off.mkString("\n"))
  }

  test("LSH hot-bucket cap forces no broadcast: the planner picks the anti join") {
    // with automatic broadcasts off, a BroadcastHashJoin LeftAnti could
    // only come from a hint — the over-cap bucket set grows as
    // bandedRows / maxBucketSize, so it must never be forced to broadcast
    withBroadcastBudget("-1") {
      val ref = docs.filter(col("doc_id") < 100)
      for ((name, out) <- Seq(
          "minHashNearDuplicates" -> dedup.Dedup.minHashNearDuplicates(docs, "text", "doc_id"),
          "minHashDedupAgainst" -> dedup.Dedup.minHashDedupAgainst(
            docs.filter(col("doc_id") >= 100), ref, "text", "doc_id"))) {
        val plan = out.queryExecution.executedPlan.toString
        val antiJoins = plan.linesIterator.filter(_.contains("LeftAnti")).toSeq
        assert(antiJoins.nonEmpty, s"$name: expected the cap's anti join in:\n$plan")
        assert(!antiJoins.exists(_.contains("BroadcastHashJoin")),
          s"$name: hot-bucket cap forced a broadcast:\n$plan")
        out.collect() // the planner-chosen shape still runs
      }
    }
  }

  test("SimHash C(8,2) banding exchange carries only id/band/bucket — no text/fingerprint payload") {
    val plan = dedup.Dedup.simHashNearDuplicates(docs, "text", "doc_id", maxHamming = 6)
      .queryExecution.executedPlan.toString
    val bandExchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filter(_.contains("band")).toSeq
    assert(bandExchanges.nonEmpty, s"expected banded exchange in:\n$plan")
    bandExchanges.foreach { e =>
      assert(!e.contains("text") && !e.contains("toks#") && !e.contains("th#"),
        s"SimHash banding exchange carries payload columns:\n$e")
    }
  }

  test("simHash128 default-rung banding exchange carries only id/band/bucket") {
    val plan = dedup.Dedup.simHash128NearDuplicates(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    val bandExchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filter(_.contains("band")).toSeq
    assert(bandExchanges.nonEmpty, s"expected banded exchange in:\n$plan")
    bandExchanges.foreach { e =>
      assert(!e.contains("text") && !e.contains("toks#") && !e.contains("th#"),
        s"simHash128 banding exchange carries payload columns:\n$e")
    }
  }

  test("nearDedupStream plans ONE exchange on the shard key, no payload re-shuffle") {
    // the streaming near-dedup's only shuffle is the groupByKey on the
    // shard — a second exchange would mean the state pass re-partitions
    // payload, the classic accidental double-shuffle
    val dir = java.nio.file.Files.createTempDirectory("graft_neardedup_plan").toString
    Seq(streaming.Streaming.SimDoc("a", 1L, 0L, "p"),
      streaming.Streaming.SimDoc("b", 2L, 1L, "q")).toDS()
      .write.mode("overwrite").parquet(dir)
    val ds = spark.read.parquet(dir).as[streaming.Streaming.SimDoc]
    val plan = streaming.Streaming.nearDedupStream(ds, maxHamming = 3)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges in:\n$plan")
    assert(plan.contains("FlatMapGroupsWithState") || plan.contains("MapGroups"),
      s"expected the stateful map-groups operator in:\n$plan")
  }

  test("nearDedupStreamEventTime plans ONE exchange on the shard key, no payload re-shuffle") {
    // same single-exchange contract as the processing-time variant:
    // the only shuffle is the groupByKey on the shard
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("graft_evtime_plan").toString
    Seq(streaming.Streaming.TimedSimDoc("a", 1L, 0L, new Timestamp(0L), "p"),
      streaming.Streaming.TimedSimDoc("b", 2L, 1L, new Timestamp(1L), "q")).toDS()
      .write.mode("overwrite").parquet(dir)
    val ds = spark.read.parquet(dir).as[streaming.Streaming.TimedSimDoc]
    val plan = streaming.Streaming
      .nearDedupStreamEventTime(ds, maxHamming = 3, ttlMs = 60000L)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges in:\n$plan")
    assert(plan.contains("FlatMapGroupsWithState") || plan.contains("MapGroups"),
      s"expected the stateful map-groups operator in:\n$plan")
  }

  test("full-recall store probe broadcasts the micro-batch; the store never shuffles") {
    // dedupBatchAgainstStore's scale contract under the guard: the
    // micro-batch's survivor map is broadcast and the survivors store
    // (the big side, survivors-so-far) is streamed through ONE map-side
    // pass — any Exchange in the store-probe plan would mean the store
    // shuffles once per micro-batch, the accidental quadratic a
    // refactor could reintroduce
    val root = java.nio.file.Files
      .createTempDirectory("graft_fullrecall_plan").toString
    val store = s"$root/store"
    val fps = spark.range(100).select(col("id"),
      (col("id") * 2654435761L).as("sim"))
    streaming.Streaming.appendBatchToFullRecallStore(
      fps.filter(col("id") < 50), store, 0L, maxHamming = 3)
    val plan = streaming.Streaming.fullRecallStoreProbe(spark, store, 1L, maxHamming = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"store probe must not exchange:\n$plan")
    assert(plan.linesIterator.count(_.contains("FileScan")) == 1,
      s"store probe must scan the store once:\n$plan")
    // the returned survivors are local: their plan reads no store
    val out = streaming.Streaming.dedupBatchAgainstStore(
      fps.filter(col("id") >= 50), store, 1L, maxHamming = 3)
    val outPlan = out.queryExecution.executedPlan.toString
    assert(outPlan.contains("LocalTableScan") && !outPlan.contains("FileScan"),
      s"under-guard survivors must be a local frame:\n$outPlan")
    // over the broadcast guard, the probe must degrade to a
    // shuffle-hash join on (band, bucket) — both sides exchange once —
    // instead of force-broadcasting a backfill-sized banded batch
    val big = streaming.Streaming.dedupBatchAgainstStore(
      fps.filter(col("id") >= 50), store, 2L, maxHamming = 3,
      maxBroadcastBandedRows = 1L)
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(bigPlan.contains("ShuffledHashJoin"),
      s"over-guard probe must plan a shuffle-hash join:\n$bigPlan")
  }

  test("saltedJoin short-circuit plans the plain broadcast join; engaged path salts the SMJ keys") {
    val left = spark.range(5000).toDF("k").withColumn("v", col("k") * 2)
    val dim = spark.range(50).toDF("k").withColumn("name", col("k").cast("string"))
    // broadcastable un-hinted right: physical plan must be the plain BHJ
    val sc = core.DataFrameOps.saltedJoin(left, dim, Seq("k"), saltFactor = 8)
    val scPlan = sc.queryExecution.executedPlan.toString
    assert(scPlan.contains("BroadcastHashJoin") && !scPlan.contains("__graft_salt"),
      s"short-circuit must plan the plain broadcast join:\n$scPlan")
    // merge-hinted right: SMJ joining on (key, salt)
    val en = core.DataFrameOps.saltedJoin(left, dim.hint("merge"), Seq("k"), saltFactor = 8)
    val enPlan = en.queryExecution.executedPlan.toString
    assert(enPlan.contains("SortMergeJoin") && enPlan.contains("__graft_salt"),
      s"engaged path must sort-merge on the salted key:\n$enPlan")
  }

  test("flagship entry query broadcasts all three dimension tables") {
    val plan = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts == 3, s"expected 3 broadcast joins:\n$plan")
  }

  test("exact dedup plans a single shuffle on the fingerprint") {
    val plan = dedup.Dedup.exactDedup(docs, "text", "doc_id")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Window"), s"expected window in:\n$plan")
  }

  test("readTable filter compiles to a data filter, not a post-scan-only filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan").toString
    docs.write.mode("overwrite").parquet(dir)
    val out = io.ReadTable.readParquet(spark, dir,
      columnFilters = Map("doc_id" -> Seq(1L, 2L)))
    val executed = out.queryExecution.executedPlan.toString
    assert(executed.contains("PushedFilters: [Or(EqualTo(doc_id,1),EqualTo(doc_id,2))]")
      || executed.contains("PushedFilters: [In(doc_id"),
      s"no pushed filter:\n$executed")
  }

  test("smartCoalesce adds no shuffle (Repartition with shuffle=false)") {
    val out = core.DataFrameOps.smartCoalesce(docs, targetFileSizeMb = 1)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("exchange"),
      s"coalesce should stay narrow:\n$plan")
  }

  test("batch stream-stream join bins to an equi-join — no product join") {
    import java.sql.Timestamp
    val l = Seq(("k", Timestamp.valueOf("2024-01-01 10:00:00"), 1))
      .toDF("key", "lts", "a")
    val r = Seq(("k", Timestamp.valueOf("2024-01-01 09:59:00"), 2))
      .toDF("key", "rts", "b")
    val plan = streaming.Streaming
      .streamStreamJoin(l, r, "key", "lts", "rts", lookbackSeconds = 3600)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"batch stream-join planned as a product:\n$plan")
    assert(plan.contains("__bin"), s"expected bin key in the join:\n$plan")
  }

  test("int8 quantization stays narrow — zero exchanges") {
    val vecs = spark.range(100).toDF("id")
      .withColumn("v", array(col("id").cast("double"), lit(1.0)))
    val plan = similarity.Quantize.quantizeInt8(vecs, "v")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("exchange"),
      s"quantization must not shuffle:\n$plan")
  }

  test("PQ ADC scoring scans the corpus in place — broadcast query side, no corpus exchange before the partial top-k") {
    import spark.implicits._
    val rnd = new scala.util.Random(3L)
    val vecs = (0 until 64).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian())))
      .toDF("id", "vec")
    val cb = similarity.Pq.trainCodebooks(vecs, "id", "vec", m = 2, k = 8)
    val plan = similarity.Pq.adcTopK(
        similarity.Pq.encode(vecs, "id", "vec", cb),
        vecs.filter(col("id") < 2), "id", "vec", cb, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"query side must broadcast:\n$plan")
    // the only hash exchange is the post-partial-agg top-k reduce on
    // query_id — the corpus-side scan and scoring must not re-shuffle
    val hashExchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.size == 1 && hashExchanges.head.contains("query_id"),
      s"expected exactly one hash exchange (top-k reduce on query_id):\n$plan")
    assert(plan.contains("partial_topk") || plan.contains("partial"),
      s"top-k must aggregate partially before the exchange:\n$plan")
  }

  test("deterministic sampling is a filter over the scan — no shuffle, no rand()") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_samp").toString
    docs.write.mode("overwrite").parquet(dir)
    val out = core.Sampling.deterministicSample(
      spark.read.parquet(dir), "doc_id", 0.25, "x")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("exchange"), s"sampling shuffled:\n$plan")
    assert(!plan.contains("rand("), s"sampling must be RNG-free:\n$plan")
  }

  test("bloom semi join probes at the scan: candidate filter BEFORE the only left exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_bloom").toString
    spark.range(2000).toDF("k").write.mode("overwrite").parquet(s"$dir/left")
    spark.range(0, 2000, 40).toDF("rk").write.mode("overwrite").parquet(s"$dir/right")
    val left = spark.read.parquet(s"$dir/left")
    val right = spark.read.parquet(s"$dir/right")
    // pin the bloom path: this fixture's right side fits the broadcast
    // budget, and this test asserts the bloom plan shape
    withBroadcastBudget("-1") {
      val out = core.DataFrameOps.bloomSemiJoin(left, right, "k", "rk")
      // force a shuffled join so the probe-vs-exchange ordering is visible
      val plan = out.hint("shuffle_hash")
        .queryExecution.executedPlan.toString
      assert(plan.contains("bloom_might_contain"),
        s"probe expression missing from the plan:\n$plan")
      // the probe must sit under a Filter on the scan side, not above a join
      val probeLine = plan.linesIterator.indexWhere(l =>
        l.contains("Filter") && l.contains("bloom_might_contain"))
      assert(probeLine >= 0, s"probe is not a scan-side Filter:\n$plan")
    }
  }

  test("bloom joins route small right sides to the plain broadcast join (no bloom build)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_bloom2").toString
    spark.range(2000).toDF("k").write.mode("overwrite").parquet(s"$dir/left")
    spark.range(0, 2000, 40).toDF("rk").write.mode("overwrite").parquet(s"$dir/right")
    val left = spark.read.parquet(s"$dir/left")
    val right = spark.read.parquet(s"$dir/right")
    val semi = core.DataFrameOps.bloomSemiJoin(left, right, "k", "rk")
    val anti = core.DataFrameOps.bloomAntiJoin(left, right, "k", "rk")
    for ((out, name) <- Seq((semi, "semi"), (anti, "anti"))) {
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("bloom_might_contain"),
        s"$name: small-right regime must skip the bloom:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: small-right regime must broadcast the exact join:\n$plan")
    }
  }

  test("stateless streaming decontamination plans zero exchanges and zero state ops") {
    import spark.implicits._
    val evalDf = Seq((1L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_decon").toString
    Seq((2L, "xx yy zz")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val out = streaming.Streaming.decontaminateStream(
      spark.read.parquet(dir), evalDf, "text", n = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("exchange"),
      s"stateless decon filter must not shuffle:\n$plan")
    assert(plan.contains("bloom_any_contain") && plan.contains("sorted_set_count"),
      s"both probe kernels must appear in the one filter:\n$plan")
  }
}
