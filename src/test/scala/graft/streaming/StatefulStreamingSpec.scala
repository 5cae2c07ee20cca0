package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.dedup.Dedup
import graft.streaming.Streaming.{KeyedDoc, dedupStream}

class StatefulStreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("dedupStream drops repeat fingerprints per key (batch mode)") {
    val docs = Seq(
      KeyedDoc("en", "fp1", "first"),
      KeyedDoc("en", "fp1", "dup of first"),
      KeyedDoc("en", "fp2", "second"),
      KeyedDoc("fr", "fp1", "same fp, other key")).toDS()
    val out = dedupStream(docs).collect()
    assert(out.length == 3)
    assert(out.count(_.key == "en") == 2)
    assert(out.exists(d => d.key == "fr" && d.payload == "same fp, other key"))
    // the TTL-enabled form is batch-usable too (timers are inert there)
    assert(dedupStream(docs, timeoutMs = 60000).collect().length == 3)
  }

  test("dedupStream keeps state across streaming micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state").toString
    Seq(KeyedDoc("k", "a", "one"), KeyedDoc("k", "b", "two")).toDS()
      .write.mode("overwrite").parquet(s"$dir/in")
    Thread.sleep(20) // distinct mtimes: the file source orders by them
    // second file arrives with one duplicate + one new
    Seq(KeyedDoc("k", "a", "one again"), KeyedDoc("k", "c", "three")).toDS()
      .write.mode("append").parquet(s"$dir/in")
    val streamed = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[KeyedDoc]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in").as[KeyedDoc]
    val fingerprints = Streaming.runStreamToMemory(spark,
        dedupStream(streamed).toDF(), "graft_dedup_stream",
        outputMode = "append")
      .select("fingerprint").as[String].collect().sorted.toSeq
    assert(fingerprints == Seq("a", "b", "c")) // "a" emitted once only
  }

  test("nearDedupStream drops within-radius docs per shard (batch mode)") {
    import Streaming.{SimDoc, nearDedupStream}
    val docs = Seq(
      SimDoc("s", 1L, 0L, "base"),
      SimDoc("s", 2L, 3L, "hamming 2 of base — near-dup"),
      SimDoc("s", 3L, 0xFF00L, "hamming 8 — distinct"),
      SimDoc("t", 4L, 3L, "same fp, other shard")).toDS()
    val out = nearDedupStream(docs, maxHamming = 3).collect()
    // first-arrival wins; one of {1,2} survives in shard s, plus 3 and 4
    assert(out.length == 3)
    assert(out.count(_.key == "s") == 2)
    assert(out.exists(_.id == 3L) && out.exists(_.id == 4L))
    assert(out.count(d => d.id == 1L || d.id == 2L) == 1)
  }

  test("nearDedupStream caps per-shard state at maxStatePerKey") {
    import Streaming.{SimDoc, nearDedupStream}
    // far-apart fingerprints (hamming 8 between neighbours) so nothing
    // dedups; with the cap at 2, fp 0 has been evicted by the time its
    // exact copy (id 4) arrives — most-recent-window semantics. One doc
    // per micro-batch: eviction semantics are inherently order-
    // dependent and batch group iteration order is engine-chosen, so
    // only a streaming run pins the arrival order deterministically.
    val docs = Seq(
      SimDoc("s", 1L, 0L, ""),
      SimDoc("s", 2L, 0xFFL, ""),
      SimDoc("s", 3L, 0xFF00L, ""),
      SimDoc("s", 4L, 0L, "copy of evicted fp"))
    val dir = java.nio.file.Files.createTempDirectory("graft_cap_state").toString
    docs.zipWithIndex.foreach { case (d, i) =>
      Seq(d).toDS().write
        .mode(if (i == 0) "overwrite" else "append").parquet(s"$dir/in")
      Thread.sleep(20) // distinct mtimes: the file source orders by them
    }
    def run(cap: Int, queryName: String): Seq[Long] = {
      val streamed = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[SimDoc]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in").as[SimDoc]
      // timeoutMs = 0: an AvailableNow replay never terminates while
      // processing-time timers are armed
      Streaming.runStreamToMemory(spark,
          nearDedupStream(streamed, maxHamming = 3, maxStatePerKey = cap,
            timeoutMs = 0).toDF(),
          queryName, outputMode = "append")
        .select("id").as[Long].collect().sorted.toSeq
    }
    assert(run(2, "graft_cap_two") == Seq(1L, 2L, 3L, 4L),
      "evicted fingerprint must not suppress its copy")
    assert(run(10000, "graft_cap_full") == Seq(1L, 2L, 3L),
      "uncapped state must suppress the exact copy")
  }

  test("nearDedupStream keeps state across streaming micro-batches") {
    import Streaming.{SimDoc, nearDedupStream}
    val dir = java.nio.file.Files.createTempDirectory("graft_near_state").toString
    Seq(SimDoc("k", 1L, 0L, "one"), SimDoc("k", 2L, 0xF0F0L, "two")).toDS()
      .write.mode("overwrite").parquet(s"$dir/in")
    Thread.sleep(20) // distinct mtimes: the file source orders by them
    // second micro-batch: hamming-1 near-dup of doc 1 + one new
    Seq(SimDoc("k", 3L, 1L, "near-dup of one"), SimDoc("k", 4L, 0xAAAA00L, "three")).toDS()
      .write.mode("append").parquet(s"$dir/in")
    val streamed = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[SimDoc]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in").as[SimDoc]
    val ids = Streaming.runStreamToMemory(spark,
        nearDedupStream(streamed, maxHamming = 3, timeoutMs = 0).toDF(),
        "graft_near_dedup_stream", outputMode = "append")
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L),
      "doc 3 (hamming 1 of batch-1 doc 1) must be dropped by carried state")
  }

  test("nearDedupStreamEventTime scopes suppression to the event-time window (batch mode)") {
    import Streaming.{TimedSimDoc, nearDedupStreamEventTime}
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(3600_000L + min * 60_000L)
    val ttlMs = 10 * 60_000L // 10-minute dedup window
    val docs = Seq(
      TimedSimDoc("s", 1L, 0L, ts(0), "base"),
      TimedSimDoc("s", 2L, 1L, ts(5), "hamming 1, inside window — dropped"),
      TimedSimDoc("s", 3L, 0L, ts(30), "same fp, outside window — re-emitted"),
      TimedSimDoc("s", 4L, 0xFF00L, ts(6), "far fp, inside window — kept"))
    val out = nearDedupStreamEventTime(
      docs.toDS().coalesce(1), maxHamming = 3, ttlMs = ttlMs)
      .collect().map(_.id).sorted.toSeq
    // group iteration order is engine-chosen: whichever of docs 1/2 is
    // seen first survives and window-suppresses the other; docs 3
    // (outside the window) and 4 (distant fingerprint) always survive
    assert(out.length == 3 && out.contains(3L) && out.contains(4L) &&
      out.count(i => i == 1L || i == 2L) == 1,
      s"expected window-scoped suppression, got survivors $out")
  }

  test("nearDedupStreamEventTime re-emits after the watermark evicts a shard (streaming)") {
    import Streaming.{TimedSimDoc, nearDedupStreamEventTime}
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(3600_000L + min * 60_000L)
    val ttlMs = 10 * 60_000L
    val dir = java.nio.file.Files.createTempDirectory("graft_evtime").toString
    // b1: base doc + an in-window near-dup (suppressed cross-doc in-batch)
    Seq(TimedSimDoc("k", 1L, 0L, ts(0), "base"),
      TimedSimDoc("k", 2L, 1L, ts(4), "in-window near-dup")).toDS()
      .write.mode("overwrite").parquet(s"$dir/in")
    Thread.sleep(20) // distinct mtimes: the file source orders by them
    // b2: unrelated shard far in the future — advances the watermark
    // past shard k's window so its state times out
    Seq(TimedSimDoc("other", 3L, 0xAAAAL, ts(40), "watermark mover")).toDS()
      .write.mode("append").parquet(s"$dir/in")
    Thread.sleep(20)
    // b3: same fingerprint as doc 1, event time far outside its window
    Seq(TimedSimDoc("k", 4L, 0L, ts(41), "post-eviction repeat")).toDS()
      .write.mode("append").parquet(s"$dir/in")
    val streamed = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[TimedSimDoc]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in").as[TimedSimDoc]
      .withWatermark("eventTime", "0 seconds")
    val ids = Streaming.runStreamToMemory(spark,
        nearDedupStreamEventTime(streamed, maxHamming = 3, ttlMs = ttlMs).toDF(),
        "graft_evtime_dedup", outputMode = "append")
      .select("id").as[Long].collect().sorted.toSeq
    // within-batch group order is engine-chosen, so WHICH of the two
    // colliding batch-1 docs survives is order-dependent — exactly one
    // may; the window/eviction outcomes (docs 3 and 4) are not
    assert(ids.length == 3 && ids.contains(3L) && ids.contains(4L) &&
      ids.count(i => i == 1L || i == 2L) == 1,
      s"one of docs 1/2 must be window-suppressed and doc 4 must " +
        s"re-emit after eviction; got $ids")
  }

  // one-doc-per-micro-batch file stream through the shared loud-failure
  // harness: arrival order pinned by mtime, hung streams throw instead
  // of asserting over a partial memory table
  private def runEvtimeStream(
      docs: Seq[Streaming.TimedSimDoc], queryName: String,
      ttlMs: Long, watermarkDelay: String,
      maxStatePerKey: Int = 10000): Seq[Long] = {
    import Streaming.TimedSimDoc
    val dir = java.nio.file.Files.createTempDirectory(queryName).toString
    docs.zipWithIndex.foreach { case (d, i) =>
      Seq(d).toDS().write.mode(if (i == 0) "overwrite" else "append")
        .parquet(s"$dir/in")
      Thread.sleep(20) // distinct mtimes: the file source orders by them
    }
    val streamed = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[TimedSimDoc]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in").as[TimedSimDoc]
      .withWatermark("eventTime", watermarkDelay)
    Streaming.runStreamToMemory(spark,
        Streaming.nearDedupStreamEventTime(streamed, maxHamming = 3,
          ttlMs = ttlMs, maxStatePerKey = maxStatePerKey).toDF(),
        queryName, outputMode = "append")
      .select("id").as[Long].collect().sorted.toSeq
  }

  test("nearDedupStreamEventTime drops below-watermark rows instead of leaking duplicates") {
    import Streaming.TimedSimDoc
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(3600_000L + min * 60_000L)
    // b1: base doc — emitted; b2: unrelated far-future shard pushes the
    // watermark to ts(40), pruning base's state; b3: a late near-dup of
    // base (ts(5) < wm). Its suppressor is pruned, so emitting it would
    // leak a duplicate — the below-watermark contract drops it.
    val ids = runEvtimeStream(Seq(
        TimedSimDoc("k", 1L, 0L, ts(0), "base"),
        TimedSimDoc("other", 2L, 0xAAAAL, ts(40), "watermark mover"),
        TimedSimDoc("k", 3L, 1L, ts(5), "late near-dup")),
      "graft_late_dedup", ttlMs = 10 * 60_000L, watermarkDelay = "0 seconds")
    assert(ids == Seq(1L, 2L),
      s"late doc 3 must be dropped, not emitted as a duplicate; got $ids")
  }

  test("nearDedupStreamEventTime: rows between wm-ttl and wm are late too — no duplicate band") {
    import Streaming.TimedSimDoc
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(3600_000L + min * 60_000L)
    // the band a wm-ttl acceptance threshold would leak: A (t=0:00)
    // emitted; watermark moves to 0:18, pruning A (0:00 < wm-ttl=0:08)
    // AND timing the shard out (0:00+ttl < wm); A' arrives at t=0:09 —
    // above wm-ttl but below wm. Accepting it would emit a duplicate 9
    // minutes from A with hamming 0; the below-watermark contract
    // drops it, keeping the pairwise-window invariant intact.
    val ids = runEvtimeStream(Seq(
        TimedSimDoc("k", 1L, 0L, ts(0), "A"),
        TimedSimDoc("other", 2L, 0xAAAAL, ts(18), "watermark mover"),
        TimedSimDoc("k", 3L, 0L, ts(9), "A' in the leak band")),
      "graft_band_dedup", ttlMs = 10 * 60_000L, watermarkDelay = "0 seconds")
    assert(ids == Seq(1L, 2L),
      s"doc 3 (wm-ttl <= t < wm) must be dropped — its suppressor is " +
        s"already pruned; got $ids")
  }

  test("nearDedupStreamEventTime cap evicts oldest-by-EVENT-time, not arrival order") {
    import Streaming.{TimedSimDoc, nearDedupStreamEventTime}
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(3600_000L + min * 60_000L)
    // huge watermark delay: nothing is late, nothing is wm-pruned —
    // only the cap evicts. Distant fps arrive out of event-time order:
    // A(t=100), B(t=10), C(t=20). With cap 2 the eviction must drop B
    // (oldest EVENT time), keeping A so the near-dup D(t=95) of A is
    // still suppressed; arrival-order eviction would drop A (oldest
    // arrival) and leak D — survivor sets would then differ between
    // live ingest and an event-time-ordered backfill replay.
    val ids = runEvtimeStream(Seq(
        TimedSimDoc("k", 1L, 0L, ts(100), "A"),
        TimedSimDoc("k", 2L, 0xFF00L, ts(10), "B"),
        TimedSimDoc("k", 3L, 0xFF00000L, ts(20), "C"),
        TimedSimDoc("k", 4L, 1L, ts(95), "D: near-dup of A inside ttl")),
      "graft_capev_dedup", ttlMs = 30 * 60_000L,
      watermarkDelay = "10 hours", maxStatePerKey = 2)
    assert(ids == Seq(1L, 2L, 3L),
      s"cap must evict B (oldest event time) and keep A to suppress D; got $ids")
  }

  test("nearDedupStreamEventTime cap eviction is deterministic on equal timestamps") {
    import Streaming.TimedSimDoc
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(3600_000L + min * 60_000L)
    // B and C share event time t=10 with distant fingerprints and fill
    // the cap-2 shard; A (t=50) then forces an eviction among the
    // equal-timestamp pair. The (ts, id, fp) total order must evict B
    // (smaller id at the tied oldest timestamp) whichever of B/C
    // arrived first — pre-tie-break, the ordered insert put the
    // newcomer BEFORE existing equal-ts entries, so which of the tie
    // survived depended on arrival order, observable through D: a
    // near-dup of B inside the ttl window that emits iff its
    // suppressor B was the one evicted.
    val b = TimedSimDoc("k", 1L, 0L, ts(10), "B")
    val c = TimedSimDoc("k", 2L, 0xFF00L, ts(10), "C: same ts as B")
    val a = TimedSimDoc("k", 3L, 0xFF0000L, ts(50), "A: forces the tie eviction")
    val d = TimedSimDoc("k", 4L, 1L, ts(12), "D: near-dup of B inside ttl")
    def run(docs: Seq[TimedSimDoc], name: String) =
      runEvtimeStream(docs, name, ttlMs = 30 * 60_000L,
        watermarkDelay = "10 hours", maxStatePerKey = 2)
    val bc = run(Seq(b, c, a, d), "graft_tie_bc")
    val cb = run(Seq(c, b, a, d), "graft_tie_cb")
    assert(bc == cb, s"equal-timestamp eviction must not depend on " +
      s"arrival order; got $bc vs $cb")
    // B evicted in both orders ⇒ D's suppressor is gone and D emits
    assert(bc == Seq(1L, 2L, 3L, 4L), s"expected B evicted (smaller id " +
      s"of the tie) and D emitted in both orders; got $bc")
  }

  test("nearDedupStreamEventTime cap pressure drops a would-be-evicted doc instead of leaking") {
    import Streaming.TimedSimDoc
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(3600_000L + min * 60_000L)
    // shard full at cap 2 with A(t=50), B(t=40); E arrives out-of-order
    // at t=5 — older than every retained entry, so inserting it would
    // evict it immediately. Pre-fix, E was emitted AND evicted, so its
    // near-dup F(t=6, hamming 1 of E) found no suppressor and emitted
    // too: two within-window survivors. The cap-pressure drop contract
    // drops both E and F (each older than the full shard's horizon),
    // keeping the pairwise-survivor invariant intact.
    val ids = runEvtimeStream(Seq(
        TimedSimDoc("k", 1L, 0L, ts(50), "A"),
        TimedSimDoc("k", 2L, 0xFF00L, ts(40), "B"),
        TimedSimDoc("k", 3L, 0xAA00AAL, ts(5), "E: below the cap horizon"),
        TimedSimDoc("k", 4L, 0xAA00ABL, ts(6), "F: near-dup of E")),
      "graft_cappress_dedup", ttlMs = 30 * 60_000L,
      watermarkDelay = "10 hours", maxStatePerKey = 2)
    assert(ids == Seq(1L, 2L),
      s"cap-pressure docs must be dropped, not emitted-then-evicted " +
        s"(which would leak near-dup pairs); got $ids")
  }

  test("nearDedupStreamEventTime under a tiny cap: degraded contract stays pinned (fuzz)") {
    import Streaming.{TimedSimDoc, nearDedupStreamEventTime}
    import java.sql.Timestamp
    // with maxStatePerKey far below a shard's within-window cardinality
    // the pairwise invariant legitimately degrades (an evicted survivor
    // no longer suppresses). What must STILL hold, in any engine-chosen
    // group order: (1) conservation — every doc is emitted or dropped
    // exactly once; (2) every drop is explained — either covered by a
    // survivor inside its window, or a cap-pressure drop, which can
    // only hit a doc at-or-below its shard's newest-survivor horizon
    // (an in-order newest doc is never cap-dropped).
    val rnd = new scala.util.Random(9012)
    for (trial <- 1 to 5) {
      val h = 1 + rnd.nextInt(6)
      val ttlMs = (5 + rnd.nextInt(30)) * 60_000L
      val docs = (1 to 200).map { i =>
        TimedSimDoc(s"s${rnd.nextInt(3)}", i.toLong,
          rnd.nextLong() & 0xFFFFL,
          new Timestamp(3600_000L + rnd.nextInt(60) * 60_000L), "")
      }
      val out = nearDedupStreamEventTime(
        docs.toDS(), maxHamming = h, ttlMs = ttlMs, maxStatePerKey = 3)
        .collect()
      val keptIds = out.map(_.id).toSet
      assert(keptIds.size == out.length && keptIds.subsetOf(docs.map(_.id).toSet),
        s"trial $trial: emitted docs must be distinct corpus members")
      val survivors = out.groupBy(_.key)
      for (d <- docs if !keptIds.contains(d.id)) {
        val shard = survivors.getOrElse(d.key, Array.empty[TimedSimDoc])
        val covered = shard.exists(s =>
          math.abs(s.eventTime.getTime - d.eventTime.getTime) <= ttlMs &&
            java.lang.Long.bitCount(s.sim ^ d.sim) <= h)
        val belowHorizon =
          shard.exists(_.eventTime.getTime >= d.eventTime.getTime)
        assert(covered || belowHorizon,
          s"trial $trial h=$h ttl=$ttlMs cap=3: dropped doc ${d.id} is " +
            s"neither covered nor below its shard's survivor horizon")
      }
    }
  }

  test("nearDedupStream runs on the RocksDB state store (the 100 TB state path)") {
    // HDFSBackedStateStore holds every key's state on-heap — the
    // bottleneck for corpus-scale streaming dedup. RocksDB spills to
    // local disk; the operators must be provider-agnostic. The conf is
    // read per-query at start, so setting it here scopes it to this run.
    import Streaming.{SimDoc, nearDedupStream}
    val dir = java.nio.file.Files.createTempDirectory("graft_rocksdb").toString
    Seq(SimDoc("k", 1L, 0L, "one"), SimDoc("k", 2L, 0xF0F0L, "two")).toDS()
      .write.mode("overwrite").parquet(s"$dir/in")
    Thread.sleep(20) // distinct mtimes: the file source orders by them
    Seq(SimDoc("k", 3L, 1L, "near-dup of one"), SimDoc("k", 4L, 0xAAAA00L, "three"))
      .toDS().write.mode("append").parquet(s"$dir/in")
    // session-wide conf, safely scoped: Test/fork runs suites
    // sequentially in the forked JVM (testForkedParallel defaults
    // false), and the finally below restores the default provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[SimDoc]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in").as[SimDoc]
      val ids = Streaming.runStreamToMemory(spark,
          nearDedupStream(streamed, maxHamming = 3, timeoutMs = 0).toDF(),
          "graft_rocksdb_dedup", outputMode = "append")
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 4L),
        s"cross-micro-batch suppression must hold on RocksDB state; got $ids")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("nearDedupStream invariants hold under seeded fuzz") {
    import Streaming.{SimDoc, nearDedupStream}
    // the two order-independent contracts the q_stream_dedup oracle
    // relies on, over random corpora: survivors of a shard pairwise
    // > maxHamming apart; every dropped doc within maxHamming of some
    // survivor of its shard (only emitted docs enter state)
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 5) {
      val h = 1 + rnd.nextInt(6)
      val docs = (1 to 300).map { i =>
        val base = rnd.nextLong() & 0xFFFFL // narrow space forces collisions
        SimDoc(s"s${rnd.nextInt(4)}", i.toLong, base, "")
      }
      val out = nearDedupStream(docs.toDS(), maxHamming = h).collect()
      val survivors = out.groupBy(_.key)
      for ((key, ss) <- survivors; a <- ss; b <- ss if a.id < b.id)
        assert(java.lang.Long.bitCount(a.sim ^ b.sim) > h,
          s"trial $trial h=$h: survivors ${a.id},${b.id} of shard $key " +
            s"within hamming $h")
      val keptIds = out.map(_.id).toSet
      for (d <- docs if !keptIds.contains(d.id)) {
        val shard = survivors.getOrElse(d.key, Array.empty[SimDoc])
        assert(shard.exists(s => java.lang.Long.bitCount(s.sim ^ d.sim) <= h),
          s"trial $trial h=$h: dropped doc ${d.id} has no covering survivor")
      }
    }
  }

  test("nearDedupStreamEventTime invariants hold under seeded fuzz (batch)") {
    import Streaming.{TimedSimDoc, nearDedupStreamEventTime}
    import java.sql.Timestamp
    // order-independent window contracts, whatever group iteration
    // order the engine picks: no two survivors of a shard are BOTH
    // within ttl and within maxHamming (the first-seen one would have
    // suppressed the other); every dropped doc is within ttl AND
    // maxHamming of some survivor of its shard (only emitted docs
    // enter state). Default cap — eviction intentionally weakens the
    // pairwise contract to most-recent-window semantics.
    val rnd = new scala.util.Random(5678)
    for (trial <- 1 to 5) {
      val h = 1 + rnd.nextInt(6)
      val ttlMs = (1 + rnd.nextInt(30)) * 60_000L
      val docs = (1 to 300).map { i =>
        TimedSimDoc(s"s${rnd.nextInt(4)}", i.toLong,
          rnd.nextLong() & 0xFFFFL, // narrow fp space forces collisions
          new Timestamp(3600_000L + rnd.nextInt(60) * 60_000L), "")
      }
      val out = nearDedupStreamEventTime(
        docs.toDS(), maxHamming = h, ttlMs = ttlMs).collect()
      val survivors = out.groupBy(_.key)
      for ((key, ss) <- survivors; a <- ss; b <- ss if a.id < b.id)
        assert(
          math.abs(a.eventTime.getTime - b.eventTime.getTime) > ttlMs ||
            java.lang.Long.bitCount(a.sim ^ b.sim) > h,
          s"trial $trial h=$h ttl=$ttlMs: survivors ${a.id},${b.id} of " +
            s"shard $key collide inside the window")
      val keptIds = out.map(_.id).toSet
      for (d <- docs if !keptIds.contains(d.id)) {
        val shard = survivors.getOrElse(d.key, Array.empty[TimedSimDoc])
        assert(shard.exists(s =>
            math.abs(s.eventTime.getTime - d.eventTime.getTime) <= ttlMs &&
              java.lang.Long.bitCount(s.sim ^ d.sim) <= h),
          s"trial $trial h=$h ttl=$ttlMs: dropped doc ${d.id} has no " +
            s"covering survivor inside its window")
      }
    }
  }

  test("runningCounts accumulates per key") {
    val out = Streaming.runningCounts(
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDS()).collect().toMap
    assert(out == Map("a" -> 2L, "b" -> 1L))
  }

  test("streamStreamJoin: batch semantics match the time-range condition") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val clicks = Seq(("u1", ts("2024-01-01 10:00:10"), "click1"),
      ("u2", ts("2024-01-01 10:05:00"), "click2"))
      .toDF("user", "cts", "click")
    val views = Seq(("u1", ts("2024-01-01 10:00:00"), "view1"), // 10s before click1 → joins
      ("u1", ts("2024-01-01 09:58:00"), "view0"),               // 130s before → outside lookback
      ("u2", ts("2024-01-01 10:05:30"), "view2"))               // 30s after click2 → lookahead=0 drops
      .toDF("user", "vts", "view")
    val out = Streaming.streamStreamJoin(
      clicks, views, "user", "cts", "vts", lookbackSeconds = 60)
      .select("click", "view").collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("click1", "view1")))
  }

  test("streamStreamJoin runs as a REAL watermarked stream-stream join") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj").toString
    val clicks = Seq(("u1", ts("2024-01-01 10:00:10"), "click1"),
      ("u1", ts("2024-01-01 11:00:00"), "late-hour click"))
      .toDF("user", "cts", "click")
    val views = Seq(("u1", ts("2024-01-01 10:00:00"), "view1"),
      ("u1", ts("2024-01-01 10:59:50"), "view2"))
      .toDF("user", "vts", "view")
    clicks.write.mode("overwrite").parquet(s"$dir/clicks")
    views.write.mode("overwrite").parquet(s"$dir/views")
    val cs = Streaming.readParquetStream(spark, s"$dir/clicks", clicks.schema, "cts", "10 minutes")
    val vs = Streaming.readParquetStream(spark, s"$dir/views", views.schema, "vts", "10 minutes")
    val q = Streaming.streamStreamJoin(cs, vs, "user", "cts", "vts", lookbackSeconds = 60)
      .select("click", "view")
      .writeStream.format("memory").queryName("graft_ssj")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("graft_ssj").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("click1", "view1"), ("late-hour click", "view2")))
  }

  test("dedupBatchAgainstStore: full banding catches cross-block near-dups; replay overwrites its partition") {
    import Streaming.{appendBatchToFullRecallStore, readFullRecallStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_fullrecall_batch").toString
    val store = s"$dir/store"
    // batch 0: doc 2 is hamming-2 of doc 1 (within-batch drop, lowest
    // id survives); doc 3 is hamming-16 — distinct
    appendBatchToFullRecallStore(
      Seq((1L, 0L), (2L, 3L), (3L, 0x00FFFF0000000000L)).toDF("id", "sim"),
      store, 0L, maxHamming = 3)
    // batch 1: doc 10 flips ONLY a top-16-bit-block bit of doc 1
    // (hamming 1) — the pair nearDedupStream's single-band rung puts in
    // DIFFERENT shards and misses; doc 11 is fresh
    val b1 = Seq((10L, 1L << 63), (11L, 0x0F0F0F0FL)).toDF("id", "sim")
    appendBatchToFullRecallStore(b1, store, 1L, maxHamming = 3)
    val got = readFullRecallStore(spark, store)
      .select("id", "batch_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 0L), (3L, 0L), (11L, 1L)),
      "cross-block near-dup 10 must be dropped by the store join")
    // a crashed attempt's partial partition is replaced wholesale on
    // replay of the same batchId — idempotence, not doubling
    Seq((99L, 99L)).toDF("id", "sim")
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(1L))
      .write.partitionBy("batch_id").mode("append").parquet(store)
    appendBatchToFullRecallStore(b1, store, 1L, maxHamming = 3)
    val replayed = readFullRecallStore(spark, store)
      .select("id").as[Long].collect().sorted.toSeq
    assert(replayed == Seq(1L, 3L, 11L),
      "replay must overwrite the partial partition, not append to it")
  }

  test("dedupBatchAgainstStore: a nonexistent store short-circuits to the within-batch survivors") {
    // the stream's first batch has no store to probe — the path's
    // nonexistence proves hitIds empty, so the plan must carry NO join
    // (no probe subtree, no broadcast-guard count) and the result must
    // equal the within-batch dedup alone
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fullrecall_empty").toString
    val out = Streaming.dedupBatchAgainstStore(
      Seq((1L, 0L), (2L, 3L), (3L, 0x00FFFF0000000000L)).toDF("id", "sim"),
      s"$dir/store", 0L, maxHamming = 3)
    assert(!out.queryExecution.executedPlan.toString.contains("Join"),
      "empty-store batch must not plan a store probe join:\n" +
        out.queryExecution.executedPlan.toString)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L),
      "empty-store batch must still dedup within itself")
  }

  test("nearDedupStreamFullRecall dedups across micro-batches through the parquet store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fullrecall_stream").toString
    Seq((1L, 0L), (2L, 0xF0F0L)).toDF("id", "sim")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    Thread.sleep(20) // distinct mtimes: the file source orders by them
    // hamming-1 cross-TOP-block near-dup of doc 1 + one fresh doc
    Seq((3L, 1L << 63), (4L, 0x3C3C3C3CL)).toDF("id", "sim")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val streamed = spark.readStream
      .schema("id LONG, sim LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = Streaming.nearDedupStreamFullRecall(
      streamed, s"$dir/store", s"$dir/ckpt", maxHamming = 3)
    assert(q.awaitTermination(120000), "stream did not finish within 120 s")
    val ids = Streaming.readFullRecallStore(spark, s"$dir/store")
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L),
      "doc 3 (cross-block hamming-1 of doc 1) must be dropped by carried store state")
    // the state store carries NOTHING — the survivor set lives in
    // parquet, so state never bounds this stream
    val stateRows = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
    assert(stateRows == 0L, s"expected stateless plan, got $stateRows state rows")
    // the checkpoint's commit log names the safe compaction bound: two
    // files at maxFilesPerTrigger=1 → batches 0 and 1 committed
    val committed = Streaming.lastCommittedBatchId(spark, s"$dir/ckpt")
    assert(committed == Some(1L), s"expected last committed batch 1, got $committed")
    // compacting up to the committed bound preserves the survivor set
    // and folds the store to the single bound partition
    Streaming.compactFullRecallStore(spark, s"$dir/store", committed.get)
    val folded = Streaming.readFullRecallStore(spark, s"$dir/store")
      .select("id", "batch_id").as[(Long, Long)].collect().toSeq
    assert(folded.map(_._1).sorted == Seq(1L, 2L, 4L),
      "compaction must preserve the survivor set")
    assert(folded.map(_._2).distinct == Seq(1L),
      "all survivors must land in the bound partition")
  }

  test("nearDedupStreamFullRecall auto-compaction folds committed partitions mid-stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fullrecall_auto").toString
    // five single-file micro-batches with near-dups planted across the
    // fold boundaries: docs 3/6/7 duplicate earlier-batch survivors, so
    // the probe must keep working against the FOLDED store
    val files = Seq(
      Seq((1L, 0L), (2L, 0xF0F0L)),
      Seq((3L, 1L << 63), (4L, 0x3C3C3CL)),       // 3 ~ 1 (cross-block h=1)
      Seq((5L, 0x00FFFF0000000000L)),
      Seq((6L, 0xF0F1L)),                          // 6 ~ 2 (h=1)
      Seq((7L, (1L << 63) | 1L), (8L, 0x5A5A5A5AL))) // 7 ~ 1 (h=2)
    files.foreach { rows =>
      rows.toDF("id", "sim").coalesce(1).write.mode("append").parquet(s"$dir/in")
      Thread.sleep(20) // distinct mtimes: the file source orders by them
    }
    val streamed = spark.readStream
      .schema("id LONG, sim LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = Streaming.nearDedupStreamFullRecall(
      streamed, s"$dir/store", s"$dir/ckpt", maxHamming = 3,
      compactEveryNBatches = 2)
    assert(q.awaitTermination(120000), "stream did not finish within 120 s")
    val got = Streaming.readFullRecallStore(spark, s"$dir/store")
      .select("id", "batch_id").as[(Long, Long)].collect().toSeq
    assert(got.map(_._1).sorted == Seq(1L, 2L, 4L, 5L, 8L),
      s"cross-batch near-dups must drop against the folded store, got $got")
    // folds ran IN-stream at batches 2 (bound 1) and 4 (bound 3): all
    // partitions below 3 were folded away, leaving exactly {3, 4}
    assert(got.map(_._2).distinct.sorted == Seq(3L, 4L),
      s"expected mid-stream folds to leave partitions {3, 4}, got $got")
  }

  test("compactFullRecallStore folds partitions, heals a crashed fold, and later batches still dedup") {
    import Streaming.{appendBatchToFullRecallStore, compactFullRecallStore, readFullRecallStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_fullrecall_compact").toString
    val store = s"$dir/store"
    appendBatchToFullRecallStore(Seq((1L, 0L)).toDF("id", "sim"), store, 0L, 3)
    appendBatchToFullRecallStore(
      Seq((2L, 0x00FFFF0000000000L)).toDF("id", "sim"), store, 1L, 3)
    appendBatchToFullRecallStore(Seq((3L, 0x0F0F0F0FL)).toDF("id", "sim"), store, 2L, 3)
    val expected = readFullRecallStore(spark, store)
      .select("id", "sim").as[(Long, Long)].collect().toSet
    // simulate the crash window: the fold's FIRST half (compacted
    // partition written — all rows <= 2 landed in batch_id=2) done,
    // the delete half not — rows now duplicated across partitions
    readFullRecallStore(spark, store).select("id", "sim")
      .localCheckpoint(true)
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(2L))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(store)
    assert(readFullRecallStore(spark, store).count() > expected.size,
      "crash simulation must leave duplicated rows")
    // re-running the fold heals: exact row set, single partition
    compactFullRecallStore(spark, store, 2L)
    val healed = readFullRecallStore(spark, store)
      .select("id", "sim", "batch_id").as[(Long, Long, Long)].collect().toSeq
    assert(healed.map(t => (t._1, t._2)).toSet == expected &&
      healed.size == expected.size,
      s"healed store must hold the exact pre-crash row set, got $healed")
    assert(healed.map(_._3).distinct == Seq(2L))
    // the compacted store still suppresses: a cross-block hamming-1
    // near-dup of the batch-0 survivor arriving later is dropped
    appendBatchToFullRecallStore(
      Seq((10L, 1L << 63), (11L, 0x3C3C3C3CL)).toDF("id", "sim"), store, 3L, 3)
    val ids = readFullRecallStore(spark, store).select("id").as[Long]
      .collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 11L),
      "near-dup of a compacted survivor must still be dropped")
    // a fold with nothing below the bound is a no-op (doesn't rewrite)
    compactFullRecallStore(spark, store, 0L)
    assert(readFullRecallStore(spark, store).count() == 4L)
  }

  test("nearDedupStreamFullRecall invariants hold on random corpora and batch splits (fuzz)") {
    import Streaming.{appendBatchToFullRecallStore, readFullRecallStore}
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 3) {
      val base = Vector.fill(40)(rnd.nextLong())
      val docs = (0 until 120).map { i =>
        val b = base(rnd.nextInt(base.size))
        val sim = (0 until rnd.nextInt(6)).foldLeft(b)(
          (s, _) => s ^ (1L << rnd.nextInt(64)))
        (i.toLong, sim)
      }
      val store = java.nio.file.Files
        .createTempDirectory(s"graft_fullrecall_fuzz$trial").toString
      val batches = docs.groupBy(_ => rnd.nextInt(3)).toSeq.sortBy(_._1).map(_._2)
      batches.zipWithIndex.foreach { case (b, i) =>
        appendBatchToFullRecallStore(b.toDF("id", "sim"), store, i.toLong, maxHamming = 3)
        // randomly interleave maintenance compaction (every batch so
        // far is "committed" in this synchronous loop): the fold must
        // be invisible to the dedup contract the invariants assert
        if (rnd.nextBoolean())
          Streaming.compactFullRecallStore(spark, store, i.toLong)
      }
      val kept = readFullRecallStore(spark, store)
        .select("id", "sim").as[(Long, Long)].collect().toSeq
      val keptIds = kept.map(_._1).toSet
      assert(keptIds.subsetOf(docs.map(_._1).toSet))
      // invariant 1, checked EXACTLY and independently of the banding
      // machinery (local all-pairs bitCount): survivors pairwise > h
      for (Seq((ia, sa), (ib, sb)) <- kept.combinations(2))
        assert(java.lang.Long.bitCount(sa ^ sb) > 3,
          s"trial $trial: survivors $ia/$ib within hamming 3")
      // invariant 2: every dropped doc is connected to a survivor in
      // the exact <=h pair graph over the WHOLE corpus (local BFS) —
      // a drop is always explained by the stream's emitted history
      val within = docs.map { case (id, sim) =>
        id -> docs.collect { case (jd, js)
          if jd != id && java.lang.Long.bitCount(sim ^ js) <= 3 => jd }.toSet
      }.toMap
      for ((id, _) <- docs if !keptIds.contains(id)) {
        var seen = Set(id); var frontier = Set(id); var hit = false
        while (frontier.nonEmpty && !hit) {
          frontier = frontier.flatMap(within).diff(seen)
          seen ++= frontier
          hit = frontier.exists(keptIds.contains)
        }
        assert(hit, s"trial $trial: dropped doc $id has no survivor in its closure")
      }
    }
  }

  /** The two-step formulation of one full-recall micro-batch, kept as
    * the equivalence reference: the batch operator's within-batch dedup
    * (simHashPairs → dropNearDuplicates), checkpointed, then an
    * anti-join of the survivors that lie within `maxHamming` of a store
    * row (uncapped). No broadcast guard — it never changes results. */
  private def twoStepBatchAgainstStore(
      batch: DataFrame, storeDir: String, batchId: Long,
      maxHamming: Int, maxBucketSize: Int): DataFrame = {
    val fps = batch.select(col("id").cast("long").as("id"),
      col("sim").cast("long").as("sim"))
    val within = Dedup.dropNearDuplicates(
      fps, Dedup.simHashPairs(fps, maxHamming, maxBucketSize), "id")
      .localCheckpoint(true)
    if (!new java.io.File(storeDir).exists()) return within
    def banded(df: DataFrame): DataFrame = df.select(col("id"), col("sim"),
      posexplode(Dedup.simHashBandBuckets(col("sim"), maxHamming))
        .as(Seq("band", "bucket")))
    val store = Streaming.readFullRecallStore(spark, storeDir)
      .filter(col("batch_id") =!= lit(batchId))
    val hits = banded(store)
      .join(banded(within).select(col("band"), col("bucket"),
        col("id").as("n_id"), col("sim").as("n_sim")), Seq("band", "bucket"))
      .filter(bit_count(col("sim").bitwiseXOR(col("n_sim"))) <= maxHamming)
      .select(col("n_id").as("id")).distinct()
    within.join(hits, Seq("id"), "left_anti")
  }

  /** A frame's `(id, sim)` rows, nulls as `None`, sorted. */
  private def fingerprintRows(df: DataFrame): Seq[(Option[Long], Option[Long])] =
    df.select("id", "sim").collect().toSeq.map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long]))).sorted

  /** Replays `batches` through both entry points under one cap and
    * guard: each batch's returned survivors AND the partition its append
    * wrote must equal the two-step reference's survivors. */
  private def assertReferenceParity(
      batches: Seq[DataFrame], cap: Int, guard: Long, label: String): Unit = {
    val store = java.nio.file.Files
      .createTempDirectory("graft_fullrecall_equiv").toString + "/store"
    batches.zipWithIndex.foreach { case (batch, i) =>
      val want = fingerprintRows(twoStepBatchAgainstStore(batch, store, i.toLong, 3, cap))
      val got = fingerprintRows(Streaming.dedupBatchAgainstStore(batch, store, i.toLong, 3,
        maxBucketSize = cap, maxBroadcastBandedRows = guard))
      assert(got == want, s"$label batch $i: returned survivors")
      Streaming.appendBatchToFullRecallStore(batch, store, i.toLong, 3,
        maxBucketSize = cap, maxBroadcastBandedRows = guard)
      val written = fingerprintRows(Streaming.readFullRecallStore(spark, store)
        .filter(col("batch_id") === i.toLong))
      assert(written == want, s"$label batch $i: written partition")
    }
  }

  test("dedupBatchAgainstStore ≡ two-step reference, random corpora") {
    val rnd = new scala.util.Random(20261017L)
    for (cap <- Seq(0, 2, 1000); guard <- Seq(1L, 2000000L)) {
      // few bases, few flips: 16-bit blocks collide, so cap 2 bites; the
      // all-ones and sign-bit-only fingerprints are bases too
      val base = Vector.fill(6)(rnd.nextLong()) ++ Vector(-1L, Long.MinValue)
      def variant(): Long = (0 until rnd.nextInt(5)).foldLeft(
        base(rnd.nextInt(base.size)))((s, _) => s ^ (1L << rnd.nextInt(64)))
      val plain = (0 until 60).map(i => (Option(i.toLong), Option(variant())))
      // hostile rows: null fingerprints, null ids carrying live
      // fingerprints, re-delivered rows, the extreme fingerprints exactly
      val hostile = Seq((Option(60L), None), (Option(61L), None), (None, None),
          (Option(62L), Option(-1L)), (Option(63L), Option(Long.MinValue))) ++
        Seq.fill(3)((None, Option(variant()))) ++
        Seq.fill(3)(plain(rnd.nextInt(plain.size)))
      val batches = (plain ++ hostile).groupBy(_ => rnd.nextInt(3)).toSeq
        .sortBy(_._1).map(_._2.toDF("id", "sim"))
      assertReferenceParity(batches, cap, guard, s"cap $cap guard $guard")
    }
    // a skewed multi-partition batch under the guard's total but over
    // one partition's share (25 of 100 banded rows) takes the
    // distributed route
    val skewed = spark.sparkContext.parallelize(Seq(
        (100L until 120L).map(i => (i, 0x0F0F0F0F0F0F0F0FL ^ (i & 3L))),
        Seq((120L, -1L)), Seq((121L, Long.MinValue)), Seq((122L, 0L))), 4)
      .flatMap(identity).toDF("id", "sim")
    // doc 1 shares the skewed docs' three upper blocks at hamming 16;
    // doc 2 is one bit from doc 122
    val first = Seq((1L, 0x0F0F0F0F0F0FF0F0L), (2L, 1L)).toDF("id", "sim")
    val store = java.nio.file.Files
      .createTempDirectory("graft_fullrecall_skew").toString + "/store"
    Streaming.appendBatchToFullRecallStore(first, store, 0L, 3)
    val plan = Streaming.dedupBatchAgainstStore(skewed, store, 1L, 3,
      maxBroadcastBandedRows = 100L).queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"skewed batch must fall back:\n$plan")
    for (cap <- Seq(0, 2, 1000))
      assertReferenceParity(Seq(first, skewed), cap, 100L, s"skewed cap $cap")
  }

  test("dedupBatchAgainstStore: cap spares the batch, not the store") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_fullrecall_cap").toString + "/store"
    val sim = 0x123456789ABCDEFL
    val three = Seq((1L, sim), (2L, sim), (3L, sim)).toDF("id", "sim")
    // every bucket of the three equal fingerprints holds 3 > 2 members:
    // all capped, so no within-batch pair and all three survive
    val alone = Streaming.dedupBatchAgainstStore(three, store, 1L, 3, maxBucketSize = 2)
    assert(alone.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // an earlier store entry one bit away drops all three: the probe
    // against the store ignores the cap
    Streaming.appendBatchToFullRecallStore(
      Seq((0L, sim ^ 1L)).toDF("id", "sim"), store, 0L, 3, maxBucketSize = 2)
    val probed = Streaming.dedupBatchAgainstStore(three, store, 1L, 3, maxBucketSize = 2)
    assert(probed.count() == 0L)
    assert(twoStepBatchAgainstStore(three, store, 1L, 3, 2).count() == 0L)
  }

  test("dedupBatchAgainstStore: hot-bucket rows never reach the probe side") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_fullrecall_hot").toString + "/store"
    // the store row shares no 16-bit block with either batch fingerprint
    Streaming.appendBatchToFullRecallStore(
      Seq((0L, 0L)).toDF("id", "sim"), store, 0L, 3)
    // 2,000 equal fingerprints: every bucket holds 2,000 > 1,000 members,
    // so the cap must keep them out of the probe join — joined first and
    // filtered after, they would be 2,000² rows per band. Two more equal
    // docs share cold buckets, so one of them loses
    val hot = (1L to 2000L).map((_, 0x123456789ABCDEFL))
    val cold = Seq((5001L, 0x1111222233334444L), (5002L, 0x1111222233334444L))
    val batch = (hot ++ cold).toDF("id", "sim")
    // rows entering a plan: down each branch, the first node that counts
    // its output rows (exchanges, unions and projections do not)
    def rowsIn(p: SparkPlan): Long = p match {
      case s: QueryStageExec => rowsIn(s.plan)
      case _ => p.metrics.get("numOutputRows").map(_.value)
        .getOrElse(p.children.map(rowsIn).sum)
    }
    val plans = new AdaptiveSparkPlanHelper {}
    for (guard <- Seq(1L, 2000000L)) {
      val out = Streaming.dedupBatchAgainstStore(batch, store, 1L, 3,
        maxBucketSize = 1000, maxBroadcastBandedRows = guard)
      val ids = out.collect().map(_.getLong(0)).toSet
      assert(ids.size == 2001 && !ids.contains(5002L), s"guard $guard")
      // over the guard, the probe side holds the two cold docs and the
      // store row, once per band (4 at h = 3); each hot row would meet
      // 2,000 build rows
      if (guard == 1L) {
        val probed = plans.collect(out.queryExecution.executedPlan) {
          case j: HashJoin if j.joinType == Inner => rowsIn(j.left) // fence builds
        }
        assert(probed == Seq(12L), s"guard $guard: probe-side rows $probed")
      }
    }
    // under the guard the batch pairs on the driver. Equal fingerprints
    // collapse to their lowest id before any pair is compared, so no
    // bucket here makes a comparison: the cold twins are one
    // fingerprint, and so are the 2,000 hot rows once the cap is off
    val rows = Streaming.collectBanded(Streaming.bandedFingerprints(batch, 3), 2000000L)
      .getOrElse(fail("a 2,002-doc batch fits under the default guard"))
    assert(Streaming.withinBatchLosers(rows, 3, 1000) == ((Set(5002L), 0L)))
    assert(Streaming.withinBatchLosers(rows, 3, 0) ==
      (((2L to 2000L).toSet + 5002L, 0L)))
  }

  test("withinBatchLosers: equal fingerprints collapse; the cap reads the raw bucket") {
    val a = 0x0F0F0F0F0F0F0F0FL
    // (id, sim) in one (band, bucket); None = null
    val in = Seq[(Option[Long], Option[Long])](
      (Some(3L), Some(a)), (Some(7L), Some(a)), (Some(7L), Some(a)), // 7 re-delivered
      (Some(5L), Some(a ^ 1L)), (Some(9L), Some(a ^ 1L)),
      (Some(1L), Some(a ^ 0xFFL)), // 8 bits from a: beats no one
      (None, Some(a)), // null id: never loses, beats nothing
      (Some(2L), None)) // null sim: pairs with nothing, not in the bucket
    val rows = new Streaming.BandedRows(
      in.map(_._1.getOrElse(0L)).toArray, in.map(_._1.isEmpty).toArray,
      in.map(_._2.getOrElse(0L)).toArray, in.map(_._2.isEmpty).toArray,
      Array.fill(in.size)(0), Array.fill(in.size)(0L))
    // 7 and 9 lose inside their fingerprint; of the three minima
    // (3, 5, 1) only 5 is within 3 bits of a lower id: 3 comparisons
    assert(Streaming.withinBatchLosers(rows, 3, 0) == ((Set(5L, 7L, 9L), 3L)))
    // 7 rows carry a fingerprint, the null-id row included
    assert(Streaming.withinBatchLosers(rows, 3, 7) == ((Set(5L, 7L, 9L), 3L)))
    assert(Streaming.withinBatchLosers(rows, 3, 6) == ((Set.empty[Long], 0L)))
  }

  test("full-recall append job counts per 500-row batch are pinned") {
    val rnd = new scala.util.Random(500L)
    val sims = Vector.fill(1000)(rnd.nextLong())
    // every 10th doc is a 2-bit variant of the one before; batch 1 also
    // repeats a few of batch 0's fingerprints, so both halves have hits
    def batch(from: Int): DataFrame = (from until from + 500).map { i =>
      val s = if (i % 10 == 9) sims(i - 1) ^ 5L
        else if (from > 0 && i % 50 == 0) sims(i - 500) else sims(i)
      (i.toLong, s)
    }.toDF("id", "sim")
    val store = java.nio.file.Files
      .createTempDirectory("graft_fullrecall_jobs").toString + "/store"
    val first = graft.observability.RunMetricsProbe.measureEager(spark)(
      Streaming.appendBatchToFullRecallStore(batch(0), store, 0L, 3))
    val backed = graft.observability.RunMetricsProbe.measureEager(spark)(
      Streaming.appendBatchToFullRecallStore(batch(500), store, 1L, 3))
    info(s"jobs: store-less ${first.jobs}, store-backed ${backed.jobs}")
    assert(Streaming.readFullRecallStore(spark, store).count() == 450L + 440L)
    // one bounded collect, one store probe (store-backed only), one
    // write that reads no store
    assert(first.jobs <= 2, s"store-less batch: $first")
    assert(backed.jobs <= 3, s"store-backed batch: $backed")
  }

  test("substringDedupStream span-cleans micro-batches through the window store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sss_stream").toString
    val b0 = Seq((1L, "alpha beta gamma delta unique one"),
      (2L, "totally different content here now"))
    val b1 = Seq((10L, "pre alpha beta gamma post here"),   // span from batch 0: cut
      (11L, "fresh span of text first"),                     // batch-local dup: first kept
      (12L, "again fresh span of text tail"))
    b0.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    Thread.sleep(20) // distinct mtimes: the file source orders by them
    b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$dir/in")
    val streamed = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = Streaming.substringDedupStream(
      streamed, s"$dir/store", s"$dir/out", s"$dir/ckpt", "doc_id", "text", k = 3)
    assert(q.awaitTermination(120000), "stream did not finish within 120 s")
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .select("doc_id", "text_deduped", "n_tokens", "n_removed")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val streamedOut = rows(spark.read.parquet(s"$dir/out"))
    // ordered micro-batches reproduce the batch operator bit-for-bit
    val batchOut = rows(graft.dedup.SubstringDedup.dedupSubstrings(
      (b0 ++ b1).toDF("doc_id", "text"), "doc_id", "text", k = 3, hashKeys = true))
    assert(streamedOut == batchOut, s"stream $streamedOut vs batch $batchOut")
    assert(streamedOut.exists(r => r._1 == 10L && r._2 == "pre post here" && r._4 == 3L))
    // the engine's state store carries nothing
    val stateRows = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
    assert(stateRows == 0L, s"expected stateless plan, got $stateRows state rows")
    // replaying a batch overwrites its partitions instead of doubling
    Streaming.appendSubstringBatch(b1.toDF("doc_id", "text"),
      s"$dir/store", s"$dir/out", 1L, "doc_id", "text", k = 3)
    assert(rows(spark.read.parquet(s"$dir/out")) == batchOut,
      "replay must be idempotent")
  }

  test("substringDedupStream auto-compaction folds the window store mid-stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sss_auto").toString
    // four single-file batches; batch 3's doc repeats batch 0's span, so
    // the cut must keep working against the FOLDED store
    val files = Seq(
      Seq((1L, "alpha beta gamma delta start")),
      Seq((2L, "entirely different words here")),
      Seq((3L, "more unrelated content again")),
      Seq((10L, "pre alpha beta gamma post")))
    files.foreach { rows =>
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$dir/in")
      Thread.sleep(20) // distinct mtimes: the file source orders by them
    }
    val streamed = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = Streaming.substringDedupStream(
      streamed, s"$dir/store", s"$dir/out", s"$dir/ckpt", "doc_id", "text",
      k = 3, compactEveryNBatches = 2)
    assert(q.awaitTermination(120000), "stream did not finish within 120 s")
    val out = spark.read.parquet(s"$dir/out")
      .select("doc_id", "text_deduped").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(10L) == "pre post",
      s"batch-3 span must be cut against the folded store, got ${out(10L)}")
    // the fold at batch 2 (bound 1) left partitions {1, 2, 3} at most;
    // partition 0 must be gone and the full key set preserved
    val parts = Streaming.readSubstringStore(spark, s"$dir/store")
      .select("batch_id").distinct().as[Long].collect().sorted.toSeq
    assert(!parts.contains(0L), s"partition 0 should be folded away, got $parts")
    val allKeys = Streaming.readSubstringStore(spark, s"$dir/store")
      .select("w").distinct().count()
    val expectKeys = graft.dedup.SubstringDedup.windowKeys(
      files.flatten.toDF("doc_id", "text"), "doc_id", "text", k = 3,
      hashKeys = true).count()
    assert(allKeys == expectKeys, "compaction must preserve the key set")
  }

  test("asOfEnrichStream over ordered micro-batches reproduces the batch as-of join") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_asof").toString
    // static right side: quotes per symbol
    Seq(
      ("A", ts("2024-01-01 10:00:00"), 99.5),
      ("A", ts("2024-01-01 10:00:10"), 100.5),
      ("B", ts("2024-01-01 10:00:07"), 49.9))
      .toDF("sym", "ts", "quote")
      .write.mode("overwrite").parquet(s"$dir/right")
    // left stream: two micro-batches of trades (batch 2 includes a
    // symbol with no quotes and a pre-quote timestamp → null matches)
    val batches = Seq(
      Seq(("A", ts("2024-01-01 10:00:05"), 100.0),
        ("B", ts("2024-01-01 10:00:07"), 50.0)),
      Seq(("A", ts("2024-01-01 10:00:20"), 101.0),
        ("A", ts("2024-01-01 09:59:00"), 98.0),
        ("C", ts("2024-01-01 10:00:10"), 7.0)))
    batches.foreach { rows =>
      rows.toDF("sym", "ts", "price")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      Thread.sleep(20) // distinct mtimes: the file source orders by them
    }
    val streamed = spark.readStream
      .schema("sym STRING, ts TIMESTAMP, price DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = Streaming.asOfEnrichStream(streamed, s"$dir/right",
      s"$dir/out", s"$dir/ckpt", Seq("sym"), "ts", Seq("quote"))
    assert(q.awaitTermination(120000), "stream did not finish within 120 s")
    val got = spark.read.parquet(s"$dir/out")
      .select("sym", "ts", "price", "quote").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
        Option(r.get(3)))).toSet
    val expect = graft.operators.AsOfJoin.asOfJoin(
        batches.flatten.toDF("sym", "ts", "price"),
        spark.read.parquet(s"$dir/right"), Seq("sym"), "ts", Seq("quote"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
        Option(r.get(3)))).toSet
    assert(got == expect,
      s"streamed enrichment diverged from the batch operator:\n$got\n$expect")
    // two micro-batches landed as two idempotent partitions
    val parts = spark.read.parquet(s"$dir/out")
      .select("batch_id").distinct().as[Long].collect().sorted.toSeq
    assert(parts == Seq(0L, 1L), s"expected batch partitions 0,1 got $parts")
    // the rung is stateless: matches come from the static side only
    val stateRows = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
    assert(stateRows == 0L, s"expected stateless plan, got $stateRows state rows")
  }
}
