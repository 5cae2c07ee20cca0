package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

import graft.core.{BoundedCollect, Fence}

/** Structured Streaming surface (SURVEY.md §2.11 — an extension beyond
  * the reference, which has no streaming).
  *
  * The aggregation builders work identically on batch DataFrames and
  * streaming DataFrames (same logical plan), so the batch oracle checks
  * validate the streaming semantics too.
  */
object Streaming {

  /** Tumbling-window aggregate: count + sum(`valueCol`) per
    * (window, key). */
  def tumblingAgg(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      windowDuration: String,
      valueCol: String = "value"): DataFrame =
    events
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(valueCol).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol),
        col("n_events"), col("sum_value"))

  /** Distinct-count per tumbling event-time window at O(sketch) state
    * — "distinct users per hour per event type" as ONE windowed HLL
    * aggregation. The exact formulation (`count_distinct` behind a
    * window) keeps a state row per DISTINCT VALUE per open window —
    * corpus-cardinality streaming state, the thing that OOMs at 100 TB
    * — while the sketch keeps ≤ 2^lgK registers per (window, key)
    * whatever the value cardinality (the batch-side evidence is
    * SCALE.md's hll_distinct row: 1,572× shuffle cut). Same plan batch
    * and stream: groupBy(window, key) + hll_sketch_agg; run it behind
    * `withWatermark` on a stream and append mode emits each window
    * once the watermark passes. Estimates carry the standard HLL
    * relative error (~1.04/√2^lgK) and — like any distributed HLL —
    * depend on partial-merge shape only within that error, so pin
    * CONTRACTS (within-error vs exact), not bit-equality. Measured:
    * SCALE.md "r12-family exchange grains" windowed_distinct_state
    * row — the real watermarked stream held exactly windows × keys
    * state rows (100) at both 500k and 4M distinct values.
    *
    * Output: (window_start, window_end, keyCol, approx_distinct). */
  def windowedDistinctCounts(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      valueCol: String,
      windowDuration: String,
      lgK: Int = 12): DataFrame = {
    require(lgK >= 4 && lgK <= 21,
      s"windowedDistinctCounts: lgK must be in [4, 21], got $lgK")
    events
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(hll_sketch_estimate(hll_sketch_agg(col(valueCol), lit(lgK)))
        .as("approx_distinct"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol),
        col("approx_distinct"))
  }

  /** Stage 1 of the two-stage drift monitor: per-(window, category)
    * counts — a SINGLE stateful aggregation, so it runs unchanged as a
    * watermarked streaming query (append mode emits each window once
    * the watermark passes). Stage 2 —
    * [[graft.core.Drift.driftPerWindow]] against broadcast
    * [[graft.core.Drift.referenceProportions]] — runs per micro-batch
    * in `foreachBatch` or downstream of the sink; the split is
    * deliberate, because the PSI reduction is a second aggregation and
    * chained stateful aggs are what streaming engines restrict. Batch
    * ≡ stream on the same input (DriftStreamSpec). Nulls bucket to
    * "(null)" like the batch drift family. */
  def windowedCategoryCounts(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      windowDuration: String): DataFrame =
    events
      .groupBy(window(col(tsCol), windowDuration),
        coalesce(col(keyCol).cast("string"), lit("(null)")).as("category"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("category"), col("n"))

  /** Per-window Misra-Gries heavy hitters: `(window_start, item,
    * est_count, rank)` per tumbling window — trending items over an
    * event stream without per-distinct-item state. Identical in batch
    * and as a watermarked streaming aggregation: the MG Aggregator is
    * mergeable, so it runs as real partial/final streaming state with
    * O(k) PER WINDOW (an exact windowed count would hold one state row
    * per distinct item per window — unbounded on id-like items). The
    * estimate contract is [[graft.core.Frequent]]'s: `est ≤ true ≤
    * est + n_window/(k+1)`, every item above `n_window/(k+1)`
    * guaranteed present. */
  def windowedHeavyHitters(
      events: DataFrame,
      tsCol: String,
      itemCol: String,
      windowDuration: String,
      k: Int): DataFrame = {
    val mg = udaf(new graft.core.Frequent.MisraGries(k))
    val item = coalesce(col(itemCol).cast("string"), lit("(null)"))
    events
      .groupBy(window(col(tsCol), windowDuration))
      .agg(mg(item).as("__mg"))
      .select(col("window.start").as("window_start"),
        posexplode(col("__mg")).as(Seq("__pos", "__e")))
      .select(col("window_start"), col("__e.item").as("item"),
        col("__e.cnt").as("est_count"),
        (col("__pos") + 1).cast("int").as("rank"))
  }

  /** Batch verification of [[windowedHeavyHitters]]'s contract, one
    * row per window: `n_events`, `n_heavy` (items with true count >
    * n_window/(k+1)) and the three contractually-zero violation
    * counters (heavy item missing, estimate above truth, estimate more
    * than the bound below truth). Computes exact windowed counts — the
    * expensive ground truth a production stream would NOT compute. */
  def windowedHeavyHittersCheck(
      events: DataFrame,
      tsCol: String,
      itemCol: String,
      windowDuration: String,
      k: Int): DataFrame = {
    val item = coalesce(col(itemCol).cast("string"), lit("(null)"))
    val exact = events
      .groupBy(window(col(tsCol), windowDuration), item.as("item"))
      .agg(count(lit(1)).as("true_count"))
      .select(col("window.start").as("window_start"), col("item"),
        col("true_count"))
    val totals = exact.groupBy("window_start")
      .agg(sum("true_count").as("n_events"))
    val rep = windowedHeavyHitters(events, tsCol, itemCol, windowDuration, k)
    val bound = col("n_events") / (k + 1.0)
    exact
      .join(rep.select(col("window_start"), col("item"), col("est_count")),
        Seq("window_start", "item"), "left")
      .join(totals, Seq("window_start"))
      .groupBy(col("window_start"), col("n_events"))
      .agg(
        sum(when(col("true_count") > bound, 1L).otherwise(0L)).as("n_heavy"),
        sum(when(col("true_count") > bound && col("est_count").isNull, 1L)
          .otherwise(0L)).as("n_heavy_missing"),
        sum(when(col("est_count") > col("true_count"), 1L).otherwise(0L))
          .as("overcount_violations"),
        sum(when(col("true_count") - coalesce(col("est_count"), lit(0L)) > bound,
          1L).otherwise(0L)).as("bound_violations"))
  }

  /** Streaming maintenance of a [[graft.core.AggState]] state table:
    * each micro-batch reduces to one state row per group
    * (n/sum/min/max + HLL sketch via `AggState.build`) written to its
    * own `batch_id` partition of `stateDir` — a replayed batch
    * OVERWRITES its partition (dynamic partition overwrite, the same
    * idempotency move as the full-recall dedup store), so
    * exactly-once holds under checkpoint recovery without any state
    * store. Reading `stateDir` through `AggState.merge`/`finish` at
    * ANY time yields the metrics over the whole stream so far; the
    * stream itself only ever shuffles state rows, never history.
    * Caller starts/stops the returned query. */
  def aggStateStream(
      events: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      stateDir: String,
      checkpointDir: String,
      lgConfigK: Int = 12): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        graft.core.AggState.build(batch.toDF(), groupCols, valueCol, lgConfigK)
          .withColumn("batch_id", lit(batchId))
          .write.partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(stateDir)
        ()
      }
      .start()

  /** Sliding-window aggregate. */
  def slidingAgg(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      windowDuration: String,
      slideDuration: String,
      valueCol: String = "value"): DataFrame =
    events
      .groupBy(window(col(tsCol), windowDuration, slideDuration), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(valueCol).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol),
        col("n_events"), col("sum_value"))

  /** Session-window aggregate (gap-based sessions). `session_end` is
    * the last event's time plus the gap, Spark's session bound — both
    * bounds are emitted like the other window builders. */
  def sessionAgg(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      gapDuration: String,
      valueCol: String = "value"): DataFrame =
    events
      .groupBy(session_window(col(tsCol), gapDuration), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(valueCol).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n_events"), col("sum_value"))

  /** Stream-stream (or batch-batch — same logical plan) inner join
    * with an event-time range condition: left rows join right rows of
    * the same key whose timestamp lies within
    * [left.ts - lookback, left.ts + lookahead]. In streaming mode both
    * sides MUST carry watermarks (see [[readParquetStream]]): the time
    * bound lets the state store evict rows once the watermark passes
    * their join window — without it, stream-stream join state grows
    * unboundedly. Equi-key + time-range is exactly the shape Spark's
    * streaming join state management is built for; the only exchange
    * keys on the join key.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      lookbackSeconds: Long,
      lookaheadSeconds: Long = 0L): DataFrame = {
    require(lookbackSeconds >= 0 && lookaheadSeconds >= 0,
      "streamStreamJoin: lookback/lookahead must be non-negative")
    for (side <- Seq(left, right))
      graft.core.DataFrameOps.requireNoReserved(
        side, Seq("__r_key", "__bin"), "streamStreamJoin")
    // fail at build time, not as an OOM hours in: an unwatermarked
    // streaming side makes the join state inevictable
    def watermarked(df: DataFrame): Boolean =
      df.queryExecution.analyzed.collect {
        case p if p.nodeName == "EventTimeWatermark" => p
      }.nonEmpty
    for ((df, side) <- Seq(left -> "left", right -> "right") if df.isStreaming)
      require(watermarked(df),
        s"streamStreamJoin: streaming $side side must carry a watermark " +
          "(withWatermark / readParquetStream) or join state can never be evicted")
    val r = right.withColumnRenamed(keyCol, "__r_key")
    // dataframe-qualified time refs: with leftTsCol == rightTsCol (the
    // natural same-schema case) unqualified col() would be ambiguous
    val cond =
      r(rightTsCol) >= left(leftTsCol) - expr(s"INTERVAL $lookbackSeconds SECOND") &&
        r(rightTsCol) <= left(leftTsCol) + expr(s"INTERVAL $lookaheadSeconds SECOND")
    if (left.isStreaming || right.isStreaming)
      // streaming: the state store prunes by watermark, so the plain
      // equi-key + range-filter join is the native efficient shape
      left.join(r, left(keyCol) === col("__r_key") && cond).drop("__r_key")
    else {
      // batch: the same plan would fan every left row out to ALL
      // same-key right rows before filtering (hot keys × long history
      // = quadratic). Bin both sides at the window width so the
      // equi-join carries (key, bin) — each left row explodes into at
      // most two bins, each right row lands in one.
      val binW = math.max(lookbackSeconds + lookaheadSeconds, 1L)
      val lBinned = left.withColumn("__bin", explode(sequence(
        floor((col(leftTsCol).cast("double") - lookbackSeconds) / binW).cast("long"),
        floor((col(leftTsCol).cast("double") + lookaheadSeconds) / binW).cast("long"))))
      val rBinned = r.withColumn("__bin",
        floor(col(rightTsCol).cast("double") / binW).cast("long"))
      lBinned.join(rBinned,
        col(keyCol) === col("__r_key") &&
          lBinned("__bin") === rBinned("__bin") && cond)
        .drop("__r_key").drop(lBinned("__bin")).drop(rBinned("__bin"))
    }
  }

  /** Open a file-based stream over a parquet directory with an explicit
    * schema and a watermark — the standard ingest shape. */
  def readParquetStream(
      spark: SparkSession,
      path: String,
      schema: StructType,
      tsCol: String,
      watermarkDelay: String): DataFrame =
    spark.readStream
      .schema(schema)
      .parquet(path)
      .withWatermark(tsCol, watermarkDelay)

  /** Streaming train/eval decontamination as a STATELESS filter: keep
    * only documents sharing fewer than `minHits` token `n`-grams with
    * the static eval corpus — [[graft.dedup.Dedup.bloomDecontaminate]]
    * semantics, re-shaped for a stream.
    *
    * The batch operator verifies bloom candidates with an explode +
    * join + per-doc aggregate; none of those are stateless, and a
    * streaming aggregate would drag in watermarks and a state store
    * for what is logically a per-row predicate. Instead the eval side
    * (small by the decontamination contract, enforced via
    * `maxDriverGrams`) is collected ONCE at plan-build time into two
    * driver structures that ride the plan as references: a bloom
    * filter (cheap first probe, rejects the clean bulk) and the exact
    * sorted gram-hash set
    * ([[graft.functions.SortedSetCountExpr]] — binary search per
    * gram, settles every bloom hit exactly). The result is one
    * codegen'd filter: no explode, no join, no state store, exact —
    * and because And short-circuits, a clean document pays only the
    * bloom probe. Works identically on a batch frame (same plan).
    */
  def decontaminateStream(
      stream: DataFrame,
      evalDf: DataFrame,
      textCol: String,
      n: Int = 8,
      minHits: Int = 1,
      fpp: Double = 1e-4,
      maxDriverGrams: Int = 4 << 20): DataFrame = {
    require(n >= 1, s"decontaminateStream: n must be >= 1, got $n")
    require(minHits >= 1, s"decontaminateStream: minHits must be >= 1, got $minHits")
    def grams(c: Column): Column = graft.functions.HashFunctions.shingleHashesNative(
      graft.text.TextFunctions.normalizedTokens(c), n)
    val evalKeys = evalDf
      .select(explode(grams(col(textCol))).as("__graft_g"))
      .distinct()
      .limit(maxDriverGrams + 1)
      .collect().map(_.getLong(0))
    require(evalKeys.length <= maxDriverGrams,
      s"decontaminateStream: eval corpus exceeds maxDriverGrams=$maxDriverGrams " +
        "distinct grams; a stateless stream filter needs the exact set driver-side — " +
        "raise the bound or decontaminate in batch (bloomDecontaminate)")
    val bloomBytes = graft.functions.BloomFunctions
      .buildBloomBytesFromKeys(evalKeys, fpp)
    val gs = grams(col(textCol))
    stream.filter(
      !graft.functions.BloomFunctions.bloomAnyContain(gs, bloomBytes) ||
        graft.functions.BloomFunctions.sortedSetCount(gs, evalKeys) < minHits)
  }

  /** Stateless curation gate for a document stream: rounded
    * token-entropy floor, deflate-ratio ceiling, and (optionally) a
    * DSIR log-weight floor under a BATCH-trained bucket ratio table —
    * train once on static corpora, serve forever on the stream (the
    * [[decontaminateStream]] / AnnIndex artifact pattern: the only
    * driver-sized object is the bounded ratio array riding the task
    * binary). All three signals are pure scalar codegen kernels, so
    * the stream filter holds ZERO state, needs no watermark, and the
    * batch formulation of the same predicate is the exact oracle.
    * Entropy compares on the 6-dp round (the engine-portable form);
    * deflate is engine-deterministic but not cross-zlib-portable, so
    * oracle-checked gates should leave `maxDeflateRatio` at its
    * vacuous default (see `TextFunctions.deflateRatio`). */
  def curationGateStream(
      stream: DataFrame,
      textCol: String,
      minTokenEntropy: Double = 0.0,
      maxDeflateRatio: Double = Double.MaxValue,
      dsirRatios: Option[(Array[Double], Double)] = None): DataFrame = {
    val t = col(textCol)
    val gated = stream.filter(
      round(graft.text.TextFunctions.tokenEntropy(t), 6) >= minTokenEntropy &&
        graft.text.TextFunctions.deflateRatio(t) <= maxDeflateRatio)
    dsirRatios match {
      case Some((ratios, minLogWeight)) =>
        gated.filter(org.apache.spark.sql.graft.ColumnBridge(
          graft.functions.DsirScoreExpr(
            org.apache.spark.sql.graft.ColumnBridge.expression(t), ratios))
          >= minLogWeight)
      case None => gated
    }
  }

  // ------------------------------------------------- custom state
  // KeyValueGroupedDataset.flatMapGroupsWithState — per-key state the
  // built-in windowed aggregations can't express.

  /** ProcessingTimeTimeout when an idle-key TTL is requested,
    * NoTimeout when `timeoutMs = 0` — shared by every TTL-optional
    * stateful operator so the AvailableNow-termination contract (see
    * [[nearDedupStream]]) is selected in exactly one place. */
  private def idleTtlConf(timeoutMs: Long): GroupStateTimeout =
    if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
    else GroupStateTimeout.NoTimeout()

  /** One seen-fingerprint record per key. */
  case class DedupState(seen: Set[String])

  /** Input/output rows for streaming dedup. */
  case class KeyedDoc(key: String, fingerprint: String, payload: String)

  /** Streaming exact dedup: per key, emit only first-seen fingerprints —
    * the streaming analogue of [[graft.dedup.Dedup.exactDedup]].
    *
    * The default `timeoutMs = 0` keeps keys forever (NoTimeout) —
    * right for bounded corpora and `Trigger.AvailableNow` replays
    * (which never terminate while processing-time timers are armed,
    * see [[nearDedupStream]]). For an UNBOUNDED stream the per-key
    * fingerprint set grows without limit, so pass a positive
    * `timeoutMs` to evict idle keys wholesale, trading exactness past
    * the idle window for bounded state — the same policy as
    * [[nearDedupStream]] and [[runningCounts]].
    *
    * Works identically on batch Datasets (flatMapGroups semantics), so
    * the batch path oracles the streaming one.
    */
  def dedupStream(
      docs: Dataset[KeyedDoc],
      timeoutMs: Long = 0): Dataset[KeyedDoc] = {
    require(timeoutMs >= 0,
      s"dedupStream: timeoutMs must be >= 0 (0 keeps keys forever), got $timeoutMs")
    import docs.sparkSession.implicits._
    val timeoutConf = idleTtlConf(timeoutMs)
    docs.groupByKey(_.key)
      .flatMapGroupsWithState[DedupState, KeyedDoc](
        OutputMode.Append(), timeoutConf) {
        case (_, rows, state: GroupState[DedupState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val seen = state.getOption.map(_.seen).getOrElse(Set.empty)
            val (emit, newSeen) = rows.foldLeft(
              (List.empty[KeyedDoc], seen)) { case ((out, s), doc) =>
              if (s.contains(doc.fingerprint)) (out, s)
              else (doc :: out, s + doc.fingerprint)
            }
            state.update(DedupState(newSeen))
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            emit.reverseIterator
          }
      }
  }

  /** Input rows for streaming NEAR-duplicate dedup: `key` is the
    * locality shard (see [[nearDedupStream]]), `sim` the 64-bit SimHash
    * fingerprint. */
  case class SimDoc(key: String, id: Long, sim: Long, payload: String)

  /** Kernel fingerprints + shard key for [[nearDedupStream]] over a
    * text corpus, in ONE kernel pass (tokenize → token hashes → 64-bit
    * SimHash; deriving the shard key from the fingerprint column
    * rather than a second kernel expression guarantees single
    * evaluation instead of leaning on codegen subexpression
    * elimination). Sharding is by the fingerprint's top 16-bit block,
    * so dedup is SHARD-scoped: only same-shard candidates are
    * compared. Shared by the streaming near-dedup queries so the
    * sharding scheme cannot diverge between them. */
  def shardedFingerprints(
      df: DataFrame, idCol: String, textCol: String = "text"): Dataset[SimDoc] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).as("id"),
        graft.functions.HashFunctions.simHashNative(
          graft.functions.HashFunctions.tokenHashesNative(
            graft.text.TextFunctions.normalizedTokens(col(textCol)))).as("sim"))
      .select(shiftrightunsigned(col("sim"), 48).cast("string").as("key"),
        col("id"), col("sim"), lit("").as("payload"))
      .as[SimDoc]
  }

  /** Seen-fingerprint state for one shard: emitted docs' fingerprints,
    * newest first, capped. */
  case class NearDedupState(fps: List[Long])

  /** Streaming SimHash near-duplicate dedup: per shard `key`, emit a
    * doc only if NO previously-EMITTED doc of the shard is within
    * `maxHamming` of its fingerprint — the streaming analogue of
    * fingerprint-level [[graft.dedup.Dedup.simHashPairs]] +
    * dropNearDuplicates, with first-arrival winning instead of
    * lowest-id.
    *
    * Only emitted (surviving) docs enter state, which yields two
    * order-independent invariants the oracle checks: no two survivors
    * of a shard are within `maxHamming`, and every dropped doc is
    * within `maxHamming` of some survivor of its shard.
    *
    * State is bounded two ways, because an unbounded seen-set is the
    * classic streaming-dedup leak at corpus scale: keys idle past
    * `timeoutMs` are evicted wholesale (ProcessingTimeTimeout, same
    * policy as [[runningCounts]]), and a shard's fingerprint list is
    * capped at `maxStatePerKey` newest entries — dedup degrades to
    * most-recent-window semantics instead of the state store growing
    * without limit.
    *
    * `timeoutMs = 0` disables the idle-key TTL (NoTimeout). REQUIRED
    * for bounded replays: a `Trigger.AvailableNow` backfill never
    * terminates while processing-time timers are armed — the engine
    * keeps scheduling batches to fire them — so continuous streams
    * keep the TTL and bounded runs trade it for termination (the
    * per-shard cap still bounds state).
    *
    * Scale notes: the per-arrival state scan is linear in the shard's
    * retained fingerprints (bit_count over longs; thousands per shard
    * scan in microseconds), so `key` must be a LOCALITY shard, not a
    * constant: use a SimHash band block (e.g. the top 16 bits) to
    * guarantee detection for any near-dup pair agreeing on that block —
    * the single-probe rung of the banding family. That rung's recall
    * is MEASURED, not guessed (SCALE.md `stream_band_recall`, exact
    * all-pairs ground truth over the standard corpus): 100% of exact
    * (h=0) pairs, 67% / 54% / 41% at h=1/2/3, 52% of all within-h≤3
    * pairs — tracking the (48/64)^h geometry of h flips all missing
    * the probed block. Full multi-band recall needs one stateful stage
    * per band (Spark allows one flatMapGroupsWithState per streaming
    * query); when recall must be contractual use
    * [[nearDedupStreamFullRecall]], which moves the survivor set out
    * of the state store and probes every block combination per
    * micro-batch — the batch operator's recall contract across the
    * stream history.
    *
    * Works identically on batch Datasets (per-key state starts empty,
    * iterator order = arrival order), so the batch path oracles the
    * streaming one; StatefulStreamingSpec proves cross-micro-batch
    * state. Provider-agnostic: at corpus scale run it on the RocksDB
    * state store (`spark.sql.streaming.stateStore.providerClass`),
    * which spills state to local disk instead of holding every shard
    * on-heap — pinned by a StatefulStreamingSpec run.
    */
  def nearDedupStream(
      docs: Dataset[SimDoc],
      maxHamming: Int,
      maxStatePerKey: Int = 10000,
      timeoutMs: Long = 3600000): Dataset[SimDoc] = {
    require(maxHamming >= 0 && maxHamming <= 64,
      s"nearDedupStream: maxHamming must be in [0, 64], got $maxHamming")
    require(maxStatePerKey >= 1,
      s"nearDedupStream: maxStatePerKey must be >= 1, got $maxStatePerKey")
    require(timeoutMs >= 0,
      s"nearDedupStream: timeoutMs must be >= 0 (0 disables the TTL), got $timeoutMs")
    import docs.sparkSession.implicits._
    val timeoutConf = idleTtlConf(timeoutMs)
    docs.groupByKey(_.key)
      .flatMapGroupsWithState[NearDedupState, SimDoc](
        OutputMode.Append(), timeoutConf) {
        case (_, rows, state: GroupState[NearDedupState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val seen = state.getOption.map(_.fps).getOrElse(Nil)
            // size tracked through the fold: the common under-cap
            // insert is then a plain O(1) cons — re-running take(cap)
            // per emit would copy the whole list each time
            val (emit, newSeen, _) = rows.foldLeft(
              (List.empty[SimDoc], seen, seen.size)) { case ((out, s, n), doc) =>
              if (s.exists(fp =>
                  java.lang.Long.bitCount(fp ^ doc.sim) <= maxHamming))
                (out, s, n)
              else if (n >= maxStatePerKey)
                (doc :: out, (doc.sim :: s).take(maxStatePerKey), n)
              else (doc :: out, doc.sim :: s, n + 1)
            }
            state.update(NearDedupState(newSeen))
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            emit.reverseIterator
          }
      }
  }

  /** [[nearDedupStreamEventTime]] input: [[SimDoc]] plus an event
    * timestamp. */
  case class TimedSimDoc(
      key: String, id: Long, sim: Long,
      eventTime: java.sql.Timestamp, payload: String)

  /** Per-shard state for the event-time variant: (fingerprint, event
    * time ms, id) of emitted docs, sorted newest-first by the TOTAL
    * order (event time, id, fingerprint) descending, capped. The
    * ordering invariant is what makes the cap evict the
    * oldest-by-EVENT-time entry — arrival-order eviction would make the
    * survivor set differ between live ingest and a reordered backfill
    * replay — and the id/fingerprint tie-break makes the retained set a
    * pure function of the delivered data even on equal-timestamp
    * entries. */
  case class TimedNearDedupState(fps: List[(Long, Long, Long)])

  /** Event-time variant of [[nearDedupStream]]: a doc is suppressed
    * when an EMITTED doc of its shard is within `maxHamming` AND within
    * `ttlMs` of its event time (both directions, so out-of-order
    * arrivals inside the allowed lateness get the same verdict) — a
    * dedup WINDOW in event time.
    *
    * Prefer this over the processing-time variant whenever the stream
    * carries event timestamps: wall-clock TTL makes dedup scope depend
    * on ingest speed (a backfill replaying a month in an hour suppresses
    * across the whole month), while event-time scope is a property of
    * the DATA and replays deterministically.
    *
    * Late-data contract: rows with event time below the WATERMARK are
    * DROPPED, not emitted — the same contract as Spark's built-in
    * stateful operators, and the threshold that makes the state
    * bounds exact rather than approximate: an accepted row has
    * `t >= watermark`, so every entry that could still suppress one
    * satisfies `ts >= t - ttlMs >= watermark - ttlMs` — precisely the
    * pruning line below. A more lenient acceptance (say down to
    * `watermark - ttlMs`) would admit rows whose suppressors were
    * already pruned and leak duplicates. Size the watermark delay for
    * the lateness the stream actually exhibits.
    *
    * State eviction is watermark-driven twice over: entries older than
    * `watermark - ttlMs` can never suppress again and are pruned on
    * every invocation, and the key's timeout fires once the watermark
    * passes its newest entry's window, removing the shard wholesale.
    * The `maxStatePerKey` cap evicts oldest-by-event-time (the entry
    * the watermark would prune first), with equal-timestamp ties broken
    * by id then fingerprint — a TOTAL order, so the retained set after
    * any cap eviction is a pure function of the delivered data and a
    * reordered replay inside the allowed lateness converges on the
    * identical retained set.
    *
    * Cap-pressure drop contract: a doc that is older (by that total
    * order) than every retained entry of a FULL shard is DROPPED, not
    * emitted — inserting it would evict it immediately, and emitting
    * without retention would let a later near-dup through, breaking the
    * no-two-survivors-in-window invariant. The cap thus acts as a
    * per-shard data-driven lateness horizon, the same shape as the
    * watermark drop. Under sustained cap pressure (more than
    * `maxStatePerKey` distinct survivors inside one ttl window) dedup
    * degrades to most-recent-window semantics: an EVICTED survivor no
    * longer suppresses, so a later in-window near-dup of it can emit —
    * size the cap for the shard's expected within-window cardinality
    * when the pairwise invariant must be contractual. In streaming
    * mode the input MUST carry a watermark on `eventTime`
    * (EventTimeTimeout requires it); in batch mode (the oracle path)
    * the watermark reads -1, timeouts never fire, nothing is late, and
    * the |t - ts| <= ttl window check alone decides — identical
    * verdicts on in-order data.
    */
  def nearDedupStreamEventTime(
      docs: Dataset[TimedSimDoc],
      maxHamming: Int,
      ttlMs: Long,
      maxStatePerKey: Int = 10000): Dataset[TimedSimDoc] = {
    require(maxHamming >= 0 && maxHamming <= 64,
      s"nearDedupStreamEventTime: maxHamming must be in [0, 64], got $maxHamming")
    require(ttlMs > 0, s"nearDedupStreamEventTime: ttlMs must be > 0, got $ttlMs")
    require(maxStatePerKey >= 1,
      s"nearDedupStreamEventTime: maxStatePerKey must be >= 1, got $maxStatePerKey")
    import docs.sparkSession.implicits._
    // captured OUTSIDE the state closure: batch GroupState has no
    // watermark to read and no timeout to arm — the window check alone
    // decides there
    val streamingMode = docs.isStreaming
    docs.groupByKey(_.key)
      .flatMapGroupsWithState[TimedNearDedupState, TimedSimDoc](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[TimedNearDedupState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = if (streamingMode) state.getCurrentWatermarkMs() else -1L
            // the filter preserves the descending-by-event-time invariant
            val live = state.getOption.map(_.fps).getOrElse(Nil)
              .filter { case (_, ts, _) => ts >= wm - ttlMs }
            val (emit, newSeen) = rows.foldLeft(
              (List.empty[TimedSimDoc], live)) { case ((out, s), doc) =>
              val t = doc.eventTime.getTime
              if (streamingMode && t < wm)
                (out, s) // below-watermark: late data is dropped
              else if (s.exists { case (fp, ts, _) =>
                  math.abs(t - ts) <= ttlMs &&
                    java.lang.Long.bitCount(fp ^ doc.sim) <= maxHamming })
                (out, s)
              else {
                // ordered insert keeps the list newest-first under the
                // TOTAL (ts, id, fp) descending order, so the cap drops
                // the oldest-by-event-time entry with ties broken by id
                // then fingerprint — deterministic for any delivery
                // order (free for in-order streams: the split point is
                // the head)
                val (newer, older) = s.span { case (fp, ts, id) =>
                  ts > t || (ts == t &&
                    (id > doc.id || (id == doc.id && fp > doc.sim)))
                }
                if (older.isEmpty && newer.lengthCompare(maxStatePerKey) >= 0)
                  // cap-pressure drop: older than every retained entry
                  // of a full shard — would be evicted the instant it
                  // was inserted, and emitting without retention would
                  // let a later near-dup through (see scaladoc)
                  (out, s)
                else {
                  val merged = newer ::: (doc.sim, t, doc.id) :: older
                  (doc :: out,
                    if (merged.lengthCompare(maxStatePerKey) > 0) merged.init
                    else merged)
                }
              }
            }
            if (newSeen.nonEmpty) {
              state.update(TimedNearDedupState(newSeen))
              // drop the shard once the watermark passes its newest
              // entry's window (must stay strictly above the
              // watermark); newest-first invariant makes head the max.
              // Saturating add: a huge ttl must mean "never expire",
              // not an overflowed-negative timestamp that would evict
              // live suppressors on the next watermark tick
              if (streamingMode) {
                val newest = newSeen.head._2
                val fireAt =
                  if (newest > Long.MaxValue - ttlMs) Long.MaxValue
                  else newest + ttlMs
                state.setTimeoutTimestamp(math.max(fireAt, wm + 1))
              }
            } else state.remove()
            emit.reverseIterator
          }
      }
  }

  /** Survivors-store schema for [[nearDedupStreamFullRecall]]:
    * fingerprints only (16 bytes of data per survivor) — payloads
    * rejoin by id from the upstream corpus when needed. `batch_id` is
    * the partition column that makes replays idempotent. */
  private val fullRecallStoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sim", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.LongType)))

  /** The filesystem holding `path` when `path` exists on it — the one
    * existence check behind every store and checkpoint-log read here. */
  private def existingFs(spark: SparkSession, path: Path): Option[FileSystem] = {
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path)) Some(fs) else None
  }

  /** The survivors store as a DataFrame — empty-with-schema when the
    * stream has not written yet (first micro-batch), so the first
    * batch's plan is the same shape as every later one. */
  def readFullRecallStore(spark: SparkSession, storeDir: String): DataFrame = {
    if (existingFs(spark, new Path(storeDir)).isDefined)
      spark.read.schema(fullRecallStoreSchema).parquet(storeDir)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      fullRecallStoreSchema)
  }

  /** One micro-batch of the FULL-RECALL streaming near-dedup: dedup
    * `batch` (columns `id`, `sim`) within itself under the batch
    * operator's block-combination banding, then against every survivor
    * the stream has already emitted (the parquet store at `storeDir`),
    * and return the batch's survivors. Pure batch function — the
    * [[nearDedupStreamFullRecall]] foreachBatch body and the
    * correctness oracle's batch-equivalence path both call exactly
    * this, so the oracle exercises the streaming semantics.
    *
    * Recall is CONTRACTUAL, unlike [[nearDedupStream]]'s single-band
    * rung: both the within-batch pairing and the store join hash on
    * [[graft.dedup.Dedup.simHashBandBuckets]] (every block
    * combination), so any pair within `maxHamming` — including pairs
    * disagreeing on the top 16-bit block that the single-band rung
    * misses 48% of (SCALE.md `stream_band_recall`) — is guaranteed
    * compared, within a batch and across batches alike.
    *
    * Survivor choice: lowest id per within-batch near-dup cluster
    * (the batch operator's [[graft.dedup.Dedup.dropNearDuplicates]]
    * contract), and earlier batches always beat later ones (a batch
    * survivor within `maxHamming` of ANY store entry is dropped).
    * Which doc of a cross-batch pair survives therefore depends on
    * micro-batch boundaries — inherent to any streaming dedup — but
    * the INVARIANTS (emitted docs pairwise > maxHamming, every drop
    * within the pair-graph closure of a survivor) hold for every
    * boundary placement, and a replay of the same batch sequence is
    * deterministic (see [[nearDedupStreamFullRecall]]). A row with a
    * null `sim` pairs with nothing and survives; a row with a null
    * `id` neither loses nor beats another row.
    *
    * Scale shape: the per-batch fixed cost (jobs, not data) sets a
    * small batch's latency, so a batch under the guard below runs TWO
    * eager jobs and plans no join. (1) ONE bounded collect brings the
    * banded batch — `(id, sim)` exploded over
    * [[graft.dedup.Dedup.simHashBandBuckets]] — to the driver: each
    * partition returns its row count, and its rows only while it holds
    * at most its share of the guard. (2) The driver pairs the batch
    * within itself ([[withinBatchLosers]]): a row loses to any lower id
    * within `maxHamming` in a shared `(band, bucket)` of at most
    * `maxBucketSize` members (the batch operator's cap rule,
    * [[graft.dedup.Dedup.hotBuckets]]). (3) When the store exists, the
    * within-batch survivors' `(band, bucket)` map is broadcast and ONE
    * map-side pass over the banded store ([[fullRecallStoreProbe]]: the
    * `sim` column, no exchange, no store-side state) returns its
    * distinct losers — every survivor within `maxHamming` of a store
    * row, uncapped: a store hit is never skipped. The survivors are the
    * band-0 rows minus both loser sets, returned as a local frame whose
    * plan reads neither the batch nor the store. The stream's first
    * batch (no store path) skips job 2. Equal to deduping within the
    * batch first and then probing its survivors: the two anti-joins
    * commute.
    *
    * The store is plain parquet, not state-store memory, so state size
    * never bounds the stream. Its scan is the design cost, linear per
    * batch in survivors-so-far; compact the store as it grows
    * ([[compactFullRecallStore]] folds committed-batch partitions into
    * one, bounding FILE count), and prefer larger micro-batches once the
    * store dwarfs them — per-survivor cost amortises with batch size.
    *
    * That last advice is why the driver route is size-GUARDED: a
    * backfill-sized micro-batch times the band multiplier (4 at h<=3,
    * 28 at h<=6) can exceed what a driver comfortably holds.
    * `maxBroadcastBandedRows` is the most banded rows the driver takes
    * in, and each of the batch's partitions ships rows only while it
    * holds at most `ceil(maxBroadcastBandedRows / partitions)`. Over the
    * guard, or when one partition exceeds its share (skew), the collect
    * returns counts only and the batch takes the distributed route: the
    * banded batch is checkpointed once (a batch of more than
    * `maxBucketSize` docs pays a second checkpoint that flags its hot
    * buckets), and ONE shuffle-hash join on `(band, bucket)` — the fence
    * as build side, its cold rows plus the banded store as probe side —
    * finds the losers, anti-joined from the fence's band-0 rows. Both
    * sides exchange once and the plan stays skew-tolerant where a giant
    * batch would otherwise OOM the driver. The collect's total serves as
    * the fence's count, so this route runs no more jobs than a counted
    * fence would. The default (2M banded rows ≈ 500k docs at h<=3, ~60
    * MB of driver arrays) keeps every normal micro-batch on the driver.
    *
    * Eager work: under the guard, 2 jobs (the collect and the store
    * probe; 1 without a store), and the returned frame is local. Over
    * it, the collect and the fence's checkpoint; the returned frame
    * reads the store lazily (checkpointed when there is no store). */
  def dedupBatchAgainstStore(
      batch: DataFrame,
      storeDir: String,
      batchId: Long,
      maxHamming: Int,
      maxBucketSize: Int = 1000,
      maxBroadcastBandedRows: Long = 2000000L): DataFrame =
    dedupBatchAgainstStoreImpl(batch, storeDir, batchId, maxHamming,
      maxBucketSize, maxBroadcastBandedRows, storeExists = None)._1

  /** [[dedupBatchAgainstStore]] with the store-existence observation
    * optionally supplied by the caller: [[appendBatchToFullRecallStore]]
    * decides its write fence from the SAME check, so the fence decision
    * and the probe decision cannot diverge if the store appears between
    * two independent checks (e.g. two streams sharing a store —
    * ADVICE r19). `None` = check here (the standalone entry point).
    * Also returns whether the survivors' plan reads the store (the
    * distributed route with a store): only such a plan must be fenced
    * before a write into `storeDir`. */
  private[graft] def dedupBatchAgainstStoreImpl(
      batch: DataFrame,
      storeDir: String,
      batchId: Long,
      maxHamming: Int,
      maxBucketSize: Int,
      maxBroadcastBandedRows: Long,
      storeExists: Option[Boolean]): (DataFrame, Boolean) = {
    val spark = batch.sparkSession
    val bandedBatch = bandedFingerprints(batch.select(
      col("id").cast("long").as("id"), col("sim").cast("long").as("sim")), maxHamming)
    // the stream's first batch has no store to probe: the path's
    // nonexistence proves the store side empty, so batch 0 pays no scan
    val exists = storeExists.getOrElse(
      existingFs(spark, new Path(storeDir)).isDefined)
    collectBanded(bandedBatch, maxBroadcastBandedRows) match {
      case Right(rows) =>
        (driverSurvivors(spark, rows, storeDir, batchId, maxHamming,
          maxBucketSize, exists), false)
      case Left(bandedRows) =>
        val survivors = distributedSurvivors(bandedBatch, bandedRows, storeDir,
          batchId, maxHamming, maxBucketSize, exists)
        if (exists) (survivors, true)
        else (Fence(survivors, "dedupBatchAgainstStore.survivors").df, false)
    }
  }

  /** The under-guard route of [[dedupBatchAgainstStore]] over the
    * collected banded batch: driver pairing, at most one store-probe
    * job, and the survivors as a local frame. */
  private def driverSurvivors(
      spark: SparkSession, rows: BandedRows, storeDir: String, batchId: Long,
      maxHamming: Int, maxBucketSize: Int, exists: Boolean): DataFrame = {
    val within = withinBatchLosers(rows, maxHamming, maxBucketSize)._1
    def kept(i: Int): Boolean = rows.idNull(i) || !within(rows.id(i))
    // a null-id row cannot lose by id, and a null-sim row bands to null
    // buckets: neither can meet a store row
    val probe = (0 until rows.size)
      .filter(i => kept(i) && !rows.idNull(i) && !rows.simNull(i))
      .groupBy(i => (rows.band(i), rows.bucket(i)))
      .map { case (k, is) => k -> is.map(i => (rows.id(i), rows.sim(i))).toArray }
    val fromStore =
      if (exists && probe.nonEmpty)
        storeLosers(spark, probe, storeDir, batchId, maxHamming)
      else Set.empty[Long]
    val survivors = (0 until rows.size)
      .filter(i => rows.band(i) == 0 && kept(i) &&
        (rows.idNull(i) || !fromStore(rows.id(i))))
      .map(i => Row(if (rows.idNull(i)) null else rows.id(i),
        if (rows.simNull(i)) null else rows.sim(i)))
    spark.createDataFrame(java.util.Arrays.asList(survivors: _*),
      StructType(fullRecallStoreSchema.filter(_.name != "batch_id")))
  }

  /** `(id, sim)` exploded over [[graft.dedup.Dedup.simHashBandBuckets]]
    * into `(id, sim, band, bucket)` — the one banding of both the batch
    * and the store. A null `sim` bands to null buckets. */
  private[graft] def bandedFingerprints(df: DataFrame, maxHamming: Int): DataFrame =
    df.select(col("id"), col("sim"),
      posexplode(graft.dedup.Dedup.simHashBandBuckets(col("sim"), maxHamming))
        .as(Seq("band", "bucket")))

  /** A micro-batch's banded rows `(id, sim, band, bucket)` held
    * column-wise on the driver. A null `id` or `sim` is flagged in
    * `idNull`/`simNull` and its slot holds 0; a null-sim row's
    * `bucket` slot is never read (its buckets are null). */
  private[graft] final class BandedRows(
      val id: Array[Long], val idNull: Array[Boolean],
      val sim: Array[Long], val simNull: Array[Boolean],
      val band: Array[Int], val bucket: Array[Long]) extends Serializable {
    def size: Int = id.length
  }

  /** ONE job over `banded` (`bandedFingerprints` output): `Right` of
    * all its rows when it holds at most `maxRows` and no partition
    * holds more than `ceil(maxRows / partitions)`, else `Left` of its
    * row count — a [[graft.core.BoundedCollect]] that weighs each row
    * as 1, so the driver never takes in more than `maxRows` rows. */
  private[graft] def collectBanded(
      banded: DataFrame, maxRows: Long): Either[Long, BandedRows] =
    BoundedCollect(banded, maxRows, _ => 1L) { kept =>
      new BandedRows(
        kept.map(_.getLong(0)).toArray, kept.map(_.isNullAt(0)).toArray,
        kept.map(_.getLong(1)).toArray, kept.map(_.isNullAt(1)).toArray,
        kept.map(_.getInt(2)).toArray, kept.map(_.getLong(3)).toArray)
    }.map(all => new BandedRows(
      all.flatMap(_.id), all.flatMap(_.idNull), all.flatMap(_.sim),
      all.flatMap(_.simNull), all.flatMap(_.band), all.flatMap(_.bucket)))

  /** Within-batch pairing on the driver: the ids that lose, and the
    * number of fingerprint pairs compared. Rows sharing a
    * `(band, bucket)` are paired unless the bucket holds more than
    * `maxBucketSize` rows (the batch operator's cap,
    * [[graft.dedup.Dedup.hotBuckets]]; `<= 0` disables it); a row loses
    * to any lower id within `maxHamming`. No transitivity: a loser still
    * beats higher ids. Null-id rows never lose and beat nothing.
    *
    * Equal fingerprints are collapsed first, so a bucket of k copies
    * costs k steps, not k²/2 comparisons: within each fingerprint every
    * id above the minimum loses (distance 0), and equal minima
    * (re-delivered rows) tie. Only the minima are then paired — a row
    * that loses to some lower id within `maxHamming` loses to that id's
    * fingerprint minimum too. */
  private[graft] def withinBatchLosers(
      rows: BandedRows, maxHamming: Int, maxBucketSize: Int): (Set[Long], Long) = {
    val losers = mutable.HashSet.empty[Long]
    var comparisons = 0L
    val buckets = (0 until rows.size).filterNot(rows.simNull)
      .groupBy(i => (rows.band(i), rows.bucket(i))).valuesIterator
    for (m <- buckets if m.size > 1 && (maxBucketSize <= 0 || m.size <= maxBucketSize)) {
      val withId = m.filterNot(rows.idNull)
      val minima = withId.groupMapReduce(rows.sim(_))(rows.id(_))(_ min _)
      withId.foreach(i => if (rows.id(i) > minima(rows.sim(i))) losers += rows.id(i))
      val reps = minima.toArray
      for (x <- reps.indices; y <- x + 1 until reps.length) {
        val ((si, ii), (sj, ij)) = (reps(x), reps(y))
        comparisons += 1
        if (java.lang.Long.bitCount(si ^ sj) <= maxHamming) {
          if (ii < ij) losers += ij else if (ij < ii) losers += ii
        }
      }
    }
    (losers.toSet, comparisons)
  }

  /** The store side of the probe: every survivor the store holds
    * outside partition `batchId`, banded, as `(sim, band, bucket)`.
    * Replay safety: a crashed attempt of THIS batch may have written its
    * partition already — excluding it re-creates the store state the
    * first attempt saw (deterministic re-run), instead of the batch
    * deduping against its own partial output and emitting nothing. */
  private[graft] def fullRecallStoreProbe(
      spark: SparkSession, storeDir: String, batchId: Long,
      maxHamming: Int): DataFrame =
    bandedFingerprints(readFullRecallStore(spark, storeDir)
        .filter(col("batch_id") =!= lit(batchId)), maxHamming)
      .select("sim", "band", "bucket")

  /** ONE job: the ids in `probe` (`(band, bucket)` → batch `(id, sim)`)
    * within `maxHamming` of a store row sharing their bucket. The map is
    * broadcast, the store is streamed map-side, and each partition
    * returns its distinct losers — at most the batch's ids. */
  private def storeLosers(
      spark: SparkSession, probe: Map[(Int, Long), Array[(Long, Long)]],
      storeDir: String, batchId: Long, maxHamming: Int): Set[Long] = {
    val shared = spark.sparkContext.broadcast(probe)
    try fullRecallStoreProbe(spark, storeDir, batchId, maxHamming)
      .queryExecution.toRdd.mapPartitions { it =>
        val byBucket = shared.value
        val lost = mutable.HashSet.empty[Long]
        it.foreach { r =>
          if (!r.isNullAt(0)) byBucket.get((r.getInt(1), r.getLong(2))).foreach(
            _.foreach { case (id, sim) =>
              if (java.lang.Long.bitCount(sim ^ r.getLong(0)) <= maxHamming) lost += id
            })
        }
        Iterator.single(lost.toArray)
      }.collect().iterator.flatten.toSet
    finally shared.destroy()
  }

  /** The over-guard route of [[dedupBatchAgainstStore]]: the banded
    * batch (`bandedRows` rows) fenced once, then ONE shuffle-hash join
    * on `(band, bucket)` finds both loser kinds. */
  private def distributedSurvivors(
      bandedBatch: DataFrame, bandedRows: Long, storeDir: String,
      batchId: Long, maxHamming: Int, maxBucketSize: Int,
      exists: Boolean): DataFrame = {
    val fenced = Fence(bandedBatch, "dedupBatchAgainstStore.banded").df
    // hot buckets are flagged, not dropped: the store probe must still
    // see every row. A bucket holds at most one row per batch doc, so a
    // batch of at most `maxBucketSize` docs has none; a larger one is
    // flagged by the batch operator's cap rule and fenced again
    val nBands = graft.dedup.Dedup.simHashBandCount(maxHamming).toLong
    val fence = graft.dedup.Dedup.hotBuckets(fenced, maxBucketSize)
      .filter(_ => bandedRows > maxBucketSize * nBands)
      .fold(fenced.withColumn("hot", lit(false)))(hot =>
        fenced.join(hot.withColumn("hot", lit(true)),
          Seq("band", "bucket"), "left").na.fill(false, Seq("hot"))
          .transform(Fence(_, "dedupBatchAgainstStore.hot").df))
    // the cap applies BEFORE the join: a hot row never probes, so a
    // bucket of k equal fingerprints costs no k² joined rows. Bucket-mates
    // share the flag, so a cold probe row only ever meets cold build rows
    val batchSide = fence.filter(!col("hot")).drop("hot")
      .withColumn("from_store", lit(false))
    val probeSide =
      if (!exists) batchSide
      else batchSide.unionByName(
        fullRecallStoreProbe(bandedBatch.sparkSession, storeDir, batchId, maxHamming)
          .withColumn("from_store", lit(true)), allowMissingColumns = true)
    val build = fence.select(col("band"), col("bucket"), col("id").as("n_id"),
      col("sim").as("n_sim"))
    // ONE probe join, the batch as build side: a batch row loses to a
    // lower id sharing a cold bucket and to any store row, each within
    // maxHamming
    val losers = probeSide
      .join(build.hint("shuffle_hash"), Seq("band", "bucket"))
      .filter(bit_count(col("sim").bitwiseXOR(col("n_sim"))) <= maxHamming &&
        (col("from_store") || col("id") < col("n_id")))
      .select(col("n_id").as("id")).distinct()
    fence.filter(col("band") === 0).select("id", "sim")
      .join(losers, Seq("id"), "left_anti")
  }

  /** [[dedupBatchAgainstStore]] + idempotent store append: survivors
    * land in partition `batch_id=<batchId>` via dynamic partition
    * overwrite, so a foreachBatch replay of the same micro-batch
    * OVERWRITES its own partition instead of doubling it. Because
    * [[dedupBatchAgainstStore]] is deterministic given the prior-batch
    * store, a replay rewrites the identical row set over any partial
    * files a crashed attempt left (dynamic overwrite replaces the whole
    * partition directory). Under the broadcast guard an append runs 3
    * jobs (collect, store probe, write), 2 for the stream's first
    * batch. */
  def appendBatchToFullRecallStore(
      batch: DataFrame,
      storeDir: String,
      batchId: Long,
      maxHamming: Int,
      maxBucketSize: Int = 1000,
      maxBroadcastBandedRows: Long = 2000000L): Unit = {
    // ONE existence observation feeds BOTH the probe decision (inside
    // the impl) and the fence decision below — independently re-checking
    // let the two diverge if the store appeared in between (two streams
    // sharing a store): the survivor plan would read the store with no
    // fence while the overwrite clobbered files the lazy plan still
    // reads (ADVICE r19)
    val storeExisted =
      existingFs(batch.sparkSession, new Path(storeDir)).isDefined
    val (survivors, readsStore) =
      dedupBatchAgainstStoreImpl(batch, storeDir, batchId, maxHamming,
        maxBucketSize, maxBroadcastBandedRows, Some(storeExisted))
    // only the over-guard route's survivor plan reads the store the
    // write overwrites, so only it is materialised first; the driver
    // route's survivors are a local frame, and a store-less batch's
    // are checkpointed already
    writeBatchPartition(
      if (readsStore) Fence(survivors, "appendBatchToFullRecallStore").df else survivors,
      storeDir, batchId)
  }

  /** Overwrite `dir`'s `batch_id=<batchId>` partition with `df`. */
  private def writeBatchPartition(df: DataFrame, dir: String, batchId: Long): Unit =
    graft.core.DataFrameOps.smartCoalesce(df)
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(dir)

  /** The fold both store compactions share: the distinct `cols` of
    * `store`'s partitions up to `upToBatchId`, fenced (the write must
    * not read its target), rewritten as partition `upToBatchId`; then
    * the folded partitions below it are deleted. No-op without one. */
  private def foldBatches(spark: SparkSession, storeDir: String, upToBatchId: Long,
      op: String, store: => DataFrame, cols: Seq[String]): Unit = {
    require(upToBatchId >= 0, s"$op: upToBatchId must be >= 0, got $upToBatchId")
    val storePath = new Path(storeDir)
    val fs = existingFs(spark, storePath) match {
      case Some(fs) => fs
      case None => return
    }
    val toDelete = fs.listStatus(storePath).iterator
      .filter(_.isDirectory)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("batch_id=") && {
          val v = n.stripPrefix("batch_id=")
          v.forall(_.isDigit) && v.toLong < upToBatchId
        }
      }.toSeq
    // nothing below the bound: a no-op beats rewriting one partition
    if (toDelete.isEmpty) return
    writeBatchPartition(Fence(store.filter(col("batch_id") <= upToBatchId)
      .select(cols.map(col): _*).distinct(), op).df, storeDir, upToBatchId)
    toDelete.foreach(st => fs.delete(st.getPath, true))
  }

  /** FULL-RECALL streaming near-duplicate dedup: the contractual-recall
    * sibling of [[nearDedupStream]]. That operator holds survivor
    * fingerprints in the state store under a SINGLE band (the top
    * 16-bit block) because one stateful stage gets one key — its
    * recall on cross-block near-dups is measured, not guaranteed
    * (SCALE.md `stream_band_recall`: 52% of within-h<=3 pairs). This
    * one moves the survivor set OUT of the state store into a parquet
    * survivors store and runs the batch operator's full banding per
    * micro-batch via foreachBatch — every block combination probed, so
    * the batch recall contract extends across the whole stream
    * history. The engine's state store carries nothing; exactly-once
    * comes from the checkpoint (batch replay) plus the store's
    * per-batch-partition idempotent overwrite
    * ([[appendBatchToFullRecallStore]]).
    *
    * The survivors store IS the output: `storeDir` accumulates one
    * partition per micro-batch holding the docs that survived, i.e.
    * reading `storeDir` at any time gives the deduped stream so far
    * (16 bytes per survivor; join payloads back by id upstream).
    *
    * Trade-off vs [[nearDedupStream]], stated plainly: per-batch cost
    * is a full scan of the survivors store (columnar, two columns,
    * shuffle-free — see [[dedupBatchAgainstStore]]) instead of an
    * O(shard) state lookup, bought with contractual recall and
    * state-store independence. Use the single-band operator for
    * low-latency high-rate streams that tolerate measured recall; use
    * this one when recall must be a contract — backfills, compliance
    * dedup, training-corpus construction.
    *
    * `docs` must carry `id` (long, unique across the stream) and `sim`
    * (64-bit SimHash, e.g. [[shardedFingerprints]] sans key or
    * [[graft.dedup.Dedup.simHash]]). Works with any trigger; with
    * `Trigger.AvailableNow` (the default) it terminates after
    * processing the backlog — the bounded-backfill mode the oracle and
    * specs run.
    *
    * `compactEveryNBatches` > 0 folds the store in-stream: every Nth
    * micro-batch, after its survivors land, committed-batch partitions
    * are compacted into one ([[compactFullRecallStore]]) under the
    * [[lastCommittedBatchId]] safety bound — the current batch is
    * never folded (it has not committed and may replay), so the fold
    * only touches immutable history. This bounds store FILE count for
    * long-running streams without an external maintenance job; the
    * fold runs inside foreachBatch, so it delays that one batch's
    * commit by the rewrite (measured 1.43× probe win per SCALE.md
    * `fullrecall_compaction`) — pick N so the fold cost amortises,
    * e.g. 16-64 for minute-scale triggers. 0 (default) disables. */
  def nearDedupStreamFullRecall(
      docs: DataFrame,
      storeDir: String,
      checkpointDir: String,
      maxHamming: Int,
      maxBucketSize: Int = 1000,
      maxBroadcastBandedRows: Long = 2000000L,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      compactEveryNBatches: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEveryNBatches >= 0,
      s"nearDedupStreamFullRecall: compactEveryNBatches must be >= 0 " +
        s"(0 disables), got $compactEveryNBatches")
    val body: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, batchId) => {
        appendBatchToFullRecallStore(
          batch.toDF(), storeDir, batchId, maxHamming, maxBucketSize,
          maxBroadcastBandedRows)
        if (compactEveryNBatches > 0 && batchId > 0 &&
            batchId % compactEveryNBatches == 0) {
          // bound by the checkpoint's COMMIT log, not batchId-1: under
          // a replay the commit log is the only truth about which
          // partitions are immutable (this batch itself is not)
          lastCommittedBatchId(batch.sparkSession, checkpointDir)
            .filter(_ >= 0)
            .foreach(upTo => compactFullRecallStore(
              batch.sparkSession, storeDir, math.min(upTo, batchId - 1)))
        }
      }
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()
  }

  /** Highest micro-batch id the stream's checkpoint has COMMITTED, or
    * None before the first commit — the safe `upToBatchId` bound for
    * [[compactFullRecallStore]]: a committed batch never replays, so
    * folding its partition away cannot race a re-execution. Reads the
    * commit-log file names (plain batch numbers, `N.compact` after log
    * compaction) directly so it works on a stopped stream. */
  def lastCommittedBatchId(spark: SparkSession, checkpointDir: String): Option[Long] = {
    val path = new Path(checkpointDir, "commits")
    existingFs(spark, path).flatMap(_.listStatus(path).iterator
      .map(_.getPath.getName.stripSuffix(".compact"))
      .filter(_.forall(_.isDigit)).map(_.toLong)
      .maxOption)
  }

  /** Compact the survivors store: fold every `batch_id <= upToBatchId`
    * partition into ONE partition (`batch_id = upToBatchId`), written
    * through [[graft.core.DataFrameOps.smartCoalesce]] — the
    * maintenance op the per-batch scan's linear cost calls for
    * ([[dedupBatchAgainstStore]] scaladoc): a long-running stream
    * accumulates one partition of small files per micro-batch, and
    * scan setup cost grows with FILE count even though bytes stay
    * linear in survivors.
    *
    * Safety contract: `upToBatchId` must not exceed the stream's last
    * COMMITTED batch ([[lastCommittedBatchId]]) — committed batches
    * never replay, so their partitions are immutable history; an
    * UNCOMMITTED batch's replay overwrites its own partition
    * dynamically, and rows folded out of it into the compacted
    * partition would duplicate. Run it between stream runs or
    * concurrently with a live stream writing only higher batch ids;
    * concurrent READERS of the store may observe vanished files while
    * the fold deletes old partitions — schedule compaction off the
    * read path.
    *
    * Crash-safe by idempotence, not atomicity: the fold writes the
    * compacted partition first, then deletes the folded partitions. A
    * crash between the two leaves survivor rows duplicated (old
    * partition + compacted copy); re-running the compaction heals —
    * the rewrite reads through `distinct`, so the converged store is
    * identical to the no-crash outcome. The streaming dedup itself is
    * correct even mid-window (the store probe matches candidates by
    * fingerprint; duplicate store rows cannot un-drop a doc), so the
    * crash window degrades survivor COUNTS read from the store, never
    * dedup verdicts. */
  def compactFullRecallStore(
      spark: SparkSession, storeDir: String, upToBatchId: Long): Unit =
    // the distinct heals a crashed prior fold's copies
    foldBatches(spark, storeDir, upToBatchId, "compactFullRecallStore",
      readFullRecallStore(spark, storeDir), Seq("id", "sim"))

  // ------- streaming EXACT-SUBSTRING (span) dedup -------
  //
  // The streaming extension of graft.dedup.SubstringDedup: every
  // micro-batch is span-cleaned against ALL window keys the stream has
  // seen (the parquet window store — 8 B kernel hashes, never the
  // text), then the batch's own window keys are appended. Same
  // architecture as the full-recall near-dedup above: the engine's
  // state store carries NOTHING, exactly-once comes from the
  // checkpoint plus per-batch-partition idempotent overwrite, and the
  // per-batch cost is one map-side columnar scan of the key store
  // (probed by the broadcast batch keys — the store never shuffles).
  //
  // Semantics: with micro-batches arriving in id order, the
  // accumulated output is BIT-IDENTICAL to the batch operator over the
  // union (the batch keeps the minimum (doc, start) occurrence, which
  // under ordered arrival always lives in the earliest batch) — the
  // q_stream_substring oracle IS the batch oracle. Under out-of-order
  // arrival the first-SEEN span survives instead (inherent to any
  // streaming dedup; same caveat as nearDedupStreamFullRecall).

  private[graft] val substringStoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.LongType)))

  /** The window-key store as a DataFrame — empty-with-schema before
    * the first write, so every batch's plan has one shape. */
  def readSubstringStore(spark: SparkSession, storeDir: String): DataFrame = {
    if (existingFs(spark, new Path(storeDir)).isDefined)
      spark.read.schema(substringStoreSchema).parquet(storeDir)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      substringStoreSchema)
  }

  /** One micro-batch of the streaming span dedup: clean `batch`
    * (columns `idCol`, `textCol`) against the key store (excluding
    * this batch's own partition — replay safety, see
    * [[dedupBatchAgainstStore]]) and within itself, first occurrence
    * kept. Pure batch function; the [[substringDedupStream]]
    * foreachBatch body and the oracle's batch-equivalence path both
    * call exactly this. */
  def substringDedupBatch(
      batch: DataFrame,
      storeDir: String,
      batchId: Long,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    val storeKeys = readSubstringStore(batch.sparkSession, storeDir)
      .filter(col("batch_id") =!= lit(batchId))
      .select("w")
    graft.dedup.SubstringDedup.dedupSubstringsAgainstKeys(
      storeKeys, batch, idCol, textCol, k, withinBatch = true, hashKeys = true)
  }

  /** [[substringDedupBatch]] + idempotent store/output append: the
    * cleaned rows land in `outDir/batch_id=<id>` and the batch's
    * ORIGINAL distinct window keys in `storeDir/batch_id=<id>`, both
    * via dynamic partition overwrite so a replay rewrites rather than
    * doubles. The ORIGINAL keys (not the cleaned text's) enter the
    * store: a span cut from this batch was still SEEN here or earlier,
    * and any later occurrence must keep being cut. Reading `outDir` at
    * any time gives the span-deduped stream so far. */
  def appendSubstringBatch(
      batch: DataFrame,
      storeDir: String,
      outDir: String,
      batchId: Long,
      idCol: String,
      textCol: String,
      k: Int = 8): Unit = {
    // ONE tokenize + window build per micro-batch: the clean result and
    // the batch's window keys come off the same checkpointed frames
    // (dedupAgainstKeysWithBatchKeys) — the previous separate
    // windowKeys(batch) call re-ran the regex tokenize and the window
    // explode over the whole batch a second time (r20 optimization
    // round). Identical rows on both outputs: substringDedupBatch IS
    // ._1 of this call, and windowKeys ≡ the distinct of the same
    // checkpointed window frame.
    val storeKeys = readSubstringStore(batch.sparkSession, storeDir)
      .filter(col("batch_id") =!= lit(batchId))
      .select("w")
    val (cleanedRaw, batchKeys) = graft.dedup.SubstringDedup
      .dedupAgainstKeysWithBatchKeys(storeKeys, batch, idCol, textCol, k,
        withinBatch = true, hashKeys = true)
    // the writes must not re-run the clean
    writeBatchPartition(Fence(cleanedRaw, "substringDedupBatch.cleaned").df, outDir, batchId)
    writeBatchPartition(Fence(batchKeys, "substringDedupBatch.keys").df, storeDir, batchId)
  }

  /** Fold the window store's committed-batch partitions into one —
    * the [[compactFullRecallStore]] analogue for the substring store:
    * bounds FILE count for long-running streams, and the distinct
    * pass heals duplicate keys across batches (every batch writes its
    * own windows, so spans recurring across batches store one key per
    * batch until folded). Only partitions at or below `upToBatchId`
    * (the checkpoint's committed bound — never the running batch) are
    * touched. */
  def compactSubstringStore(
      spark: SparkSession, storeDir: String, upToBatchId: Long): Unit =
    // the distinct folds keys recurring across batches to one
    foldBatches(spark, storeDir, upToBatchId, "compactSubstringStore",
      readSubstringStore(spark, storeDir), Seq("w"))

  /** Streaming exact-substring dedup: foreachBatch over
    * [[appendSubstringBatch]]. `docs` must carry `idCol` (unique
    * across the stream) and `textCol`. `Trigger.AvailableNow`
    * (default) terminates after the backlog — the bounded-backfill
    * mode the spec runs; the output accumulates under `outDir`,
    * partitioned by micro-batch. `compactEveryNBatches` > 0 folds the
    * window store in-stream under the committed-batch safety bound
    * (same contract as [[nearDedupStreamFullRecall]]'s knob). */
  def substringDedupStream(
      docs: DataFrame,
      storeDir: String,
      outDir: String,
      checkpointDir: String,
      idCol: String,
      textCol: String,
      k: Int = 8,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      compactEveryNBatches: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEveryNBatches >= 0,
      s"substringDedupStream: compactEveryNBatches must be >= 0 " +
        s"(0 disables), got $compactEveryNBatches")
    val body: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, batchId) => {
        appendSubstringBatch(batch.toDF(), storeDir, outDir, batchId,
          idCol, textCol, k)
        if (compactEveryNBatches > 0 && batchId > 0 &&
            batchId % compactEveryNBatches == 0) {
          lastCommittedBatchId(batch.sparkSession, checkpointDir)
            .filter(_ >= 0)
            .foreach(upTo => compactSubstringStore(
              batch.sparkSession, storeDir, math.min(upTo, batchId - 1)))
        }
      }
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()
  }

  /** The [[asOfEnrichStream]] foreachBatch body, public so the
    * batch-equivalence oracle path runs the EXACT per-batch code: as-of
    * join one micro-batch against the right side under `rightPath`,
    * land it under `outDir/batch_id=<id>` with dynamic partition
    * overwrite (idempotent on replay). */
  def asOfEnrichBatch(
      batch: DataFrame,
      rightPath: String,
      outDir: String,
      batchId: Long,
      keyCols: Seq[String],
      tsCol: String,
      rightPayloadCols: Seq[String],
      tolerance: Option[Long] = None,
      direction: String = "backward"): Unit = {
    require(!batch.columns.contains("batch_id"),
      "asOfEnrichBatch: the stream side carries a 'batch_id' column — " +
        "that name is the output's partition column; rename it first " +
        "(silently overwriting it would corrupt the replay contract)")
    val right = batch.sparkSession.read.parquet(rightPath)
    val enriched = graft.operators.AsOfJoin.asOfJoin(
      batch, right, keyCols, tsCol, rightPayloadCols, tolerance, direction)
    // REBALANCE, not smartCoalesce (r17 verdict review): coalesce(n)
    // propagates UP into the as-of join's reduce stage — a small plan
    // estimate would run the whole join single-task. The AQE rebalance
    // hint is a separate exchange after the join: the join keeps its
    // key-shuffle parallelism, and the write stage coalesces/splits to
    // the advisory partition size (the WriteTable.writeTable pattern),
    // bounding file count by data volume either way.
    enriched.hint("rebalance")
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(outDir)
  }

  /** Stream-static AS-OF enrichment: every micro-batch of `stream` is
    * as-of joined ([[graft.operators.AsOfJoin.asOfJoin]] — the same
    * O(n) running-frame machinery as the batch operator, all three
    * directions) against a static right side RELOADED from
    * `rightPath` each batch (the slowly-refreshed-artifact pattern:
    * replacing the parquet under the path re-points the next batch
    * with no stream restart), and the enriched rows land under
    * `outDir` partitioned by micro-batch with dynamic partition
    * overwrite, so a foreachBatch replay of the same batch id is
    * idempotent.
    *
    * Semantics contract (the q_stream_asof oracle): each left row's
    * match depends ONLY on that row and the right side — never on
    * other left rows — so the union of per-batch enrichments over any
    * batch partitioning of the left side equals the batch operator on
    * the whole left side, bit-for-bit. The per-batch join shuffles
    * only the micro-batch + the right side on the key columns.
    *
    * `Trigger.AvailableNow` (default) terminates after the backlog —
    * the bounded-backfill mode the spec runs. */
  def asOfEnrichStream(
      stream: DataFrame,
      rightPath: String,
      outDir: String,
      checkpointDir: String,
      keyCols: Seq[String],
      tsCol: String,
      rightPayloadCols: Seq[String],
      tolerance: Option[Long] = None,
      direction: String = "backward",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(graft.operators.AsOfJoin.directions.contains(direction),
      s"asOfEnrichStream: direction '$direction' must be one of " +
        graft.operators.AsOfJoin.directions.mkString(", "))
    val body: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, batchId) => asOfEnrichBatch(batch.toDF(), rightPath, outDir,
        batchId, keyCols, tsCol, rightPayloadCols, tolerance, direction)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()
  }

  /** Running per-key event counter with inactivity expiry: state is a
    * single long; keys idle past `timeoutMs` are dropped (bounded state
    * at 100 TB stream scale). Emits (key, runningCount) per batch.
    * `timeoutMs = 0` disables the expiry (NoTimeout) — required for
    * `Trigger.AvailableNow` replays, which never terminate while
    * processing-time timers are armed (see [[nearDedupStream]]). */
  case class CountState(n: Long)

  def runningCounts(
      events: Dataset[(String, Long)],
      timeoutMs: Long = 3600000): Dataset[(String, Long)] = {
    require(timeoutMs >= 0,
      s"runningCounts: timeoutMs must be >= 0 (0 disables expiry), got $timeoutMs")
    import events.sparkSession.implicits._
    val timeoutConf = idleTtlConf(timeoutMs)
    events.groupByKey(_._1)
      .flatMapGroupsWithState[CountState, (String, Long)](
        OutputMode.Append(), timeoutConf) {
        case (key, rows, state: GroupState[CountState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val n = state.getOption.map(_.n).getOrElse(0L) + rows.size
            state.update(CountState(n))
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            Iterator.single(key -> n)
          }
      }
  }

  /** Timestamped keyed event for [[debounceStream]]. */
  case class TimedEvent(key: String, epochSec: Long, id: Long, payload: String)

  /** Per-key last-seen event time (epoch seconds). */
  case class DebounceState(lastSeen: Long)

  /** Streaming debounce: emit only burst-OPENING events — the first
    * of a key, or any whose gap from the key's previous event exceeds
    * `gapSec`. The streaming twin of
    * [[graft.operators.TimeSeries.sessionLeaders]]: state is ONE long
    * per key (last seen event time), so state size is keys × ~32 B
    * regardless of throughput — the cheapest possible stateful shape.
    *
    * Rows inside a micro-batch are processed in (epochSec, id) order
    * (the group iterator itself is unordered); across batches the
    * file source's arrival order stands in for event order, the same
    * contract as the dedup family. Works identically on batch
    * Datasets, where one group call sees all rows — exactly
    * sessionLeaders — so the SQL oracle checks the state function
    * itself (q_stream_debounce).
    *
    * `timeoutMs` as in [[dedupStream]]: 0 keeps keys forever
    * (AvailableNow-safe); positive evicts idle keys (their next event
    * re-opens a burst — the correct debounce semantics for an evicted
    * key anyway, since eviction implies a long gap). */
  def debounceStream(
      events: Dataset[TimedEvent],
      gapSec: Long,
      timeoutMs: Long = 0): Dataset[TimedEvent] = {
    require(gapSec > 0, s"debounceStream: gapSec must be positive, got $gapSec")
    require(timeoutMs >= 0,
      s"debounceStream: timeoutMs must be >= 0 (0 keeps keys forever), got $timeoutMs")
    import events.sparkSession.implicits._
    val timeoutConf = idleTtlConf(timeoutMs)
    events.groupByKey(_.key)
      .flatMapGroupsWithState[DebounceState, TimedEvent](
        OutputMode.Append(), timeoutConf) {
        case (_, rows, state: GroupState[DebounceState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.epochSec, e.id))
            val last0 = state.getOption.map(_.lastSeen)
            val (emit, lastN) = sorted.foldLeft(
              (List.empty[TimedEvent], last0)) { case ((out, last), e) =>
              val opens = last.forall(l => e.epochSec - l > gapSec)
              (if (opens) e :: out else out, Some(e.epochSec))
            }
            lastN.foreach(l => state.update(DebounceState(l)))
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            emit.reverseIterator
          }
      }
  }

  /** Run a streaming aggregate over a bounded file source to completion
    * into an in-memory table and return the result — used by tests to
    * prove the streaming path executes (batch equivalence proves the
    * semantics). */
  def runStreamToMemory(
      spark: SparkSession,
      streamed: DataFrame,
      queryName: String,
      outputMode: String = "complete"): DataFrame = {
    val q = streamed.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // awaitTermination(timeout) returns false on timeout, leaving the
    // memory sink incomplete — fail loudly rather than return partials
    if (!q.awaitTermination(120000)) {
      q.stop()
      throw new IllegalStateException(
        s"runStreamToMemory($queryName): stream did not finish within 120 s")
    }
    spark.table(queryName)
  }
}
