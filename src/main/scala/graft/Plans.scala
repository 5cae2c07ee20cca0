package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Plan-audit dump: writes `PLANS.md` in the working directory with
  * `explain("formatted")` output for the headline queries, with the
  * scale-relevant observations annotated. Regenerate after operator
  * changes from the checkout root: `sbt "runMain graft.Plans <sf0.01 dir>"`.
  */
object Plans {

  private val headline = Seq(
    "q_pushdown_read" ->
      "Filters + projection reach the scan: PushedFilters carries the date range and value filter; ReadSchema holds only the 4 selected columns.",
    "q_minhash_dedup" ->
      "LSH pairs within the broadcast budget (this corpus): the fenced base is collected once under a byte bound and paired on the driver, so the plan is one LocalTableScan (the rounding Project folds into it) — no exchange, no join. The distributed route a larger base takes is dumped below under autoBroadcastJoinThreshold = -1.",
    "q_simhash_dedup" ->
      "SimHash with the maxHamming-derived C(8,2) block-pair index: fingerprints from native codegen kernels in one narrow pass; the 28-bucket explode carries (id, band, bucket) only; verification re-joins the 8-byte fingerprints by id and filters on bit_count(XOR).",
    "q_cosine_topk_scalable" ->
      "Top-k as partial aggregate: ObjectHashAggregate with partial_topkaggregator before the exchange — k rows per map task per query cross the shuffle, not the scored corpus.",
    "q_asof_join" ->
      "As-of join as one window pass: single Exchange on the key, Sort + Window(last ignoreNulls) — no nested-loop or cartesian operator anywhere. Every direction (backward, forward via the reversed sort, nearest's two frames) compiles to running [unboundedPreceding, currentRow] frames — O(n) incremental per partition; an UnboundedFollowing frame would recompute per row, O(n^2) on a hot key (the r14 69s hazard, now pinned out by AsOfJoinSpec).",
    "q_tumbling" ->
      "Windowed aggregation: partial_count/partial_sum before the exchange (map-side combine), final agg after.",
    "q_write_partitioned" ->
      "Read-back of the partitioned write: PartitionFilters prune on part_key when filtered; row groups sorted by the clustered field.",
    "q_ivf_topk" ->
      "IVF probe search: centroids are plan literals (driver-trained quantizer) — cell assignment is a narrow Project; the only exchanges key on cell / query id for the probe join and top-k aggregate.",
    "q_pq_topk" ->
      "PQ ADC search: codes from ONE codegen'd PqEncode call in a narrow Project (8 B per vector, the scan-width cut); the per-query LUT projection is checkpoint-fenced (visible as a LocalTableScan/checkpoint leaf — unfenced, the optimizer collapses it into the join and re-evaluates the m*k*dsub table per corpus row) and BROADCASTS; scoring is the codegen'd PqAdcScore inside the join projection; the only hash exchange is the partial top-k reduce on query_id (PlanShapeSpec pins exactly one).",
    "q_ivf_pq_topk" ->
      "IVF-PQ composed: cell assignment AND codes from the same PqEncode kernel family in narrow Projects; the probe table (query routing x per-query LUT, checkpoint-fenced) broadcasts into a BroadcastHashJoin on cell — the one wide movement keys on cell id over m-byte codes; top-k reduces partially before its exchange.",
    "q_quantize" ->
      "int8 quantization: pure narrow Project over the scan (HOF transforms), zero exchanges — the plan a column-wise codec must have.",
    "q_det_sample" ->
      "Deterministic sampling: the md5-prefix predicate is a Filter directly over the scan — no shuffle, no RNG state, prunable anywhere in a larger plan.",
    "q_pack_windows" ->
      "Concat-and-chunk packing manifest: ONE exchange (the group-grain window cumsum), then a narrow Generate (explode over each doc's 1-2 spanned sequences) and Project — the manifest never leaves corpus-row grain, token-grain rows appear nowhere in the plan.",
    "q_salted_join_skew" ->
      "saltedJoin engaged path (right pinned `merge`): SortMergeJoin on the compound (k, __graft_salt) key spreads the hot key over saltFactor sort/reduce slots; an un-hinted broadcastable right short-circuits to the plain BroadcastHashJoin with no salt machinery anywhere in the plan (PlanShapeSpec pins both shapes).",
    "q_simhash128" ->
      "128-bit SimHash at the default 8-band rung: both fingerprint words from one fused codegen kernel pass; the 8-bucket explode exchanges (id, band, bucket) only; radii 8-14 switch to the C(16,2)=120-band rung at a measured constant ~2.3x wall cost at 1x (post guard-fix re-measurement, SCALE.md).",
    "q_stream_dedup" ->
      "Streaming SimHash near-dup dedup (batch-equivalence path): ONE kernel fingerprint pass (the fingerprint frame is checkpoint-fenced, so the dedup and every invariant join read the materialised fingerprints, never re-running the kernel over the corpus), ONE exchange on the shard key into FlatMapGroupsWithState — no payload re-shuffle (PlanShapeSpec pins the single-exchange shape); the survivor set is checkpointed separately to pin the order-dependent survivor choice across the invariant joins. Since r10 the frame (and its evtime sibling) also cross-joins the late-drop probe's 1-row literal (`n_late_emitted`, cached per session — SparkEntry.evtimeLateProbe), adding one more 1-row BroadcastNestedLoopJoin Cross of the same invariant-aggregate shape as the existing ones.",
    "q_stream_dedup_fullrecall" ->
      "Full-recall streaming near-dup dedup: the plan below is the invariant-oracle frame over the survivors store the two micro-batch runs wrote; the operator's own per-batch shape is pinned by PlanShapeSpec — the banded micro-batch BROADCASTS into a BroadcastHashJoin on (band, bucket) while the survivors store streams map-side with no exchange (no banded hashpartitioning anywhere: within-batch banding is checkpoint-fenced, the store never shuffles — the property that keeps per-batch cost a columnar scan, not a shuffle, as the store grows to corpus scale).",
    "q_pack_greedy" ->
      "Exact greedy packing: Exchange hashpartitioning(source) + Sort(source, doc_id) + MapPartitions — the secondary-sort pattern; one shuffle of the corpus, O(1) state in the partition walk, no window buffering.",
    "q_dedup_against" ->
      "Cross-corpus near-dedup: BOTH corpora reduce to id-only (band, bucket) rows before the one wide join; hash-set payloads re-join only onto candidate pairs; the final left_anti keys on the (small) dropped-id set. No text or signature ever crosses the bucket exchange.",
    "q_quota_sample" ->
      "Exact-N quota: MapPartitions local top-n prune FIRST (bounded heap per stratum), so the exact rank Window's exchange carries <= n x partitions x strata rows — a billion-row stratum never serialises through one task.",
    "q_bm25" ->
      "BM25 search: the query-term filter sits INSIDE the token explode's input (filter() HOF on the array before explode), so the (doc, term) exchange carries only matching postings; the vocabulary-sized df side broadcasts under AQE; the final top-k is TakeOrderedAndProject, not a global Sort.",
    "q_fuzzy_join" ->
      "Blocked fuzzy join: an EQUI-join on the 1-char prefix key (hash-partitioned, AQE-broadcastable) with the sound length-band + levenshtein predicates as join filters — no BroadcastNestedLoopJoin/cartesian anywhere in the plan.",
    "q_entropy" ->
      "Entropy quality signals: both Shannon entropies from stateless codegen'd kernels in ONE narrow Project over the scan, ZERO exchanges — the hand-rolled formulation (Bench raw pair) pays two corpus explodes and two doc-grain shuffles for the same numbers.",
    "q_semantic_decontaminate" ->
      "Embedding-grain decontamination: BroadcastNestedLoopJoin LeftAnti with the codegen'd cosine kernel in the join condition — the corpus side is scan -> join with NO exchange anywhere (DedupSpec pins BNLJ-no-SMJ); each row short-circuits on its first contaminated hit.",
    "q_chunk" ->
      "Document chunking: scan -> one narrow Project (sequence + slice inside transform) -> Generate(posexplode) -> Project, ZERO exchanges — chunking pipelines with the parquet scan at any corpus size.",
    "q_scd2" ->
      "SCD type-2: ONE Exchange on the dimension key and ONE Sort on (key, date, orderkey) feed both window passes (the change-filter preserves partitioning and order, so the lead() pass re-uses them) — a single shuffle builds the full history.",
    "q_gap_fill" ->
      "Gap fill: (key, bucket) hash aggregation with partial combine -> per-key bounds aggregate -> sequence/explode spine (rows ~ keys x buckets, never driver-side) -> equi left join -> one window sort per key for the forward fill.",
    "q_funnel" ->
      "Ordered-step funnel: ONE ObjectHashAggregate per entity (sorted event list) -> the step fold is a single codegen'd aggregate-HOF projection -> a 1-row global reduce. No per-step joins, no repeated scans of the log.",
    "q_assign_ids" ->
      "Contiguous ids: the range exchange and the sort within partitions run inside the fence job (the Scan ExistingRDD leaf); each row's id is its partition's offset (a literal array built from the fence's per-partition row counts) plus its position, in ONE narrow Project — zero exchanges above the fence (PlanShapeSpec pins it). The corpus never passes through one task, which is what the naive global row_number does (measured 3.4x slower at 20M rows, and a straggler/OOM wall at cluster scale — SCALE.md).",
    "q_zorder" ->
      "Z-ordered read-back: the 2-D filter sits as PushedFilters on the scan of the Z-clustered files; row-group min/max stats stay tight in BOTH clustered dimensions (measured 34x byte cut vs unsorted, SCALE.md zorder_bytes).",
    "q_expectations" ->
      "Expectation-suite compilation: exactly TWO scans of lineitem — the shared pass is partial/final HashAggregate with keys=[] (counter-width shuffle, every narrow metric folded in), the exact-unique pass is the grouped count_distinct pre-aggregation carrying ONLY count buffers. No metric buffer rides the per-distinct-value exchange (the first-cut single-agg folding measured 29.5 MB vs 11.1 MB shuffle, SCALE.md expectations_passes); the inline explode of the suite rows is driver-scale.",
    "q_drift_cat" ->
      "Categorical drift: each snapshot reduces to category cardinality via partial/final HashAggregate BEFORE any join; the full-outer join and the totals cross-join operate on category-sized frames (AQE broadcasts); PSI/KL terms are a narrow Project. Nothing downstream of the two scans is corpus-sized.",
    "q_heavy_hitters" ->
      "Misra-Gries summary: ObjectHashAggregate partial_misragries before a SinglePartition exchange carrying <= k counters per map task (949 B measured vs 10.2 MB for exact top-k, SCALE.md mg_bytes); the exact-count side of the verification harness is the expensive ground truth a production run would omit.",
    "q_snapshot_diff" ->
      "Snapshot diff: ONE full-outer SortMergeJoin on the id; both exchanges carry (id, payload-struct, marker) — the compare columns folded into a single struct below the join — and the status classification is a narrow null-safe Project above it.",
    "q_stream_drift" ->
      "Two-stage drift monitor: stage 1 is the same partial/final windowed HashAggregate the streaming path runs (corpus reduces to window x category before anything else); stage 2 joins that against a BROADCAST reference-proportions frame and reduces per window — every post-stage-1 exchange is window-count-sized.",
    "q_join_cardinality" ->
      "Join pre-flight: both corpora reduce to per-key counts (partial/final HashAggregate) BEFORE the diagnosis join — the join operates at key cardinality, and TakeOrderedAndProject bounds the answer; the quadratic join being diagnosed never runs.",
    "q_topk_group" ->
      "Per-group top-k rows: a per-partition bounded-heap prune (MapPartitions, O(k x groups) memory) feeds the exact rank window, so the window sorts <= k x partitions x groups rows instead of the corpus — the bare-window formulation serialises each whole group through one task.",
    "q_argmax_group" ->
      "Argmax row per group: ONE max_by grouped aggregation — partial SortAggregate (struct buffers are sort-based, the sort is partition-local on the group key) ships a single candidate row per group per map task through the exchange; no Window operator in the plan.",
    "q_pivot_wide" ->
      "Explicit-values pivot compiled to conditional aggregation: ONE partial/final HashAggregate whose pivot columns are just aggregate buffers — Spark's own .pivot (PivotFirst) would aggregate twice with a second exchange, and a values-less pivot adds an eager distinct scan just to mint the schema.",
    "q_hll_merge" ->
      "Incremental distinct: the sketch agg's shuffle rows are fixed-width HLL sketches (ObjectHashAggregate partial/final), merge aggregates AT FINE-GROUP CARDINALITY — the history table is never rescanned; the exact countDistinct sits in a separate branch only because the oracle demands it.",
    "q_jaro_sim" ->
      "Blocked fuzzy self-match: the equi-join on the 3-char blocking key replaces the cross join, and the O(len^2) Jaro-Winkler kernel runs INSIDE WholeStageCodegen above it (native doGenCode expression, no UDF fence) — only blocked candidate pairs ever reach it.",
    "q_ks_drift" ->
      "Exact KS, adaptive: per-distinct-value counts (partial/final HashAggregate) then — below the 16M-distinct threshold metadata row counts bound — ONE ordered walk of the value-grain frame (measured fastest to 1.8M distinct; SCALE.md ks_path); above it, a range exchange with per-partition four-number reduction keeps every exchange value-grain-wide at any cardinality.",
    "q_weighted_sample" ->
      "Deterministic A-ES sample: a narrow md5-derived key projection feeding TakeOrderedAndProject — per-partition bounded top-n then a single merge of n candidates; the corpus is never globally sorted.",
    "q_corr_matrix" ->
      "All pairwise correlations in ONE pass: a single partial/final aggregate carrying six moment buffers over one scan, exploded to long format by a literal-struct projection — the per-pair loop would scan the table n(n-1)/2 times.",
    "q_link_records" ->
      "Blocked record linkage: the only wide movement is the equi-join exchange on the blocking key; the weighted multi-field Jaro-Winkler score is a narrow codegen'd projection over candidate pairs (native kernels, no UDF fence) with the threshold filter directly above it.",
    "q_perplexity" ->
      "Unigram LM scoring: per-(doc, word) counts first (partial/final HashAggregate), so the vocabulary join moves doc-distinct-term rows instead of per-token occurrences; N/V ride a broadcast 1-row frame; per-doc entropy is one grouped agg — no window anywhere.",
    "q_cdc_apply" ->
      "CDC apply: the changeset reduces to one winning event per key via per-column scalar max_by — a partial/final SortAggregate (string payloads keep max_by sort-based; the sort is partition-LOCAL and the map-side combine still ships one candidate per key per task), then ONE outer join applies it. Unlike the window formulation, no task ever materialises a whole hot key's events.",
    "q_substring_dedup" ->
      "Exact span dedup: duplicate discovery is ONE exchange keyed on the window with partial_count/partial_min map-side combine — unique windows (the bulk) die in the partial agg; only duplicated windows explode into covered positions, collect_set-folded to one removal array per AFFECTED doc (broadcast back); reassembly is a narrow in-place array filter — no token explode, no anti-join, no collect_list anywhere.",
    "q_hybrid_search" ->
      "RRF hybrid retrieval: both candidate lists are bounded before fusion — BM25 ends in TakeOrderedAndProject and the cosine list likewise — so the fusion union/groupBy moves at most lists x N rows; the corpus appears only inside the two retriever subplans.",
    "q_image_features" ->
      "Real ImageIO decode: scan -> DeserializeToObject -> MapPartitions (one decoder context per partition) -> SerializeFromObject -> Project, ZERO exchanges — decode is embarrassingly parallel, so media feature extraction pipelines with the parquet scan at any corpus size; blob-heavy inputs size tasks via files.maxPartitionBytes, not a shuffle.",
    "q_keyword_tag" ->
      "Aho-Corasick blocklist tag: keyword_matches is a codegen'd call into the driver-built automaton riding the task binary (addReferenceObj) — the whole tag+filter is a narrow Filter/Project over the scan with ZERO exchanges and cost flat in pattern count (SCALE.md keyword_scan: one pass vs the HOF form's per-pattern rescan).",
    "q_ann_index_scan" ->
      "Materialised-index serve: the code-table scan carries PartitionFilters [cell IN (...)] — only the probed cells' files are read (125x fewer bytes than the raw-vector re-encode path, SCALE.md ann_serve_bytes); scoring is the same broadcast-LUT ADC join + bounded top-k partial agg as q_ivf_pq_topk, with NO vector column anywhere in the serve plan.",
    "q_pipeline_curation" ->
      "Composed curation: domain blocklist + Aho-Corasick keyword blocklist + quality gate all FUSE into one narrow Filter/Project over the scan (three curation stages, zero exchanges between them); the only exchanges are the exact-dedup fingerprint window and the final domain-cardinality aggregate.",
    "q_interval_join" ->
      "Binned interval-overlap join: both sides Generate (explode) their covered bins in narrow passes, then ONE equi-join keyed on __bin (hash or broadcast per AQE) with the overlap + first-shared-bin predicate as the join filter — no BroadcastNestedLoopJoin anywhere, which is the entire point vs the bare-predicate plan; each true pair passes the filter in exactly one bin, so no distinct exchange either.",
    "q_html_extract" ->
      "HTML extraction front door: title, link density, and the full strip/boilerplate chain are ONE narrow Project over the scan — pure codegen'd regexp_replace/HOF composition, ZERO exchanges, so extraction runs at scan speed and fuses under any downstream curation filter.",
    "q_gopher_flags" ->
      "Gopher rule gates: the token/line arrays materialize ONCE behind a CollectMetrics fence (rows stream through — no exchange, no materialization) and all seven rule booleans + the conjunction reference them as plain attributes; used as a FILTER the pushed conjunction stops at the fence instead of substituting a re-split per conjunct into the scan predicate (short-circuiting Filter conjuncts defeat codegen CSE — the r15 pipeline fix).",
    "q_bt_scores" ->
      "Bradley-Terry MM: the battle log collapses to unordered model-pair grain in ONE corpus aggregation (checkpoint-fenced), and every MM iteration is joins over that models^2-row frame only — iteration cost independent of battle count; the naive per-iteration battle-grain exchange is the measured baseline.",
    "q_pipeline_web" ->
      "Composed web curation: zero exchanges end to end — the extract projection computes strip/link-density ONCE (codegen CSE shares the chain) below a stageFence, the link filter and Gopher gate reference attributes above it. Unfenced, predicate pushdown inlines the extraction tree into every pushed gate reference: 754 regexp_replace nodes and 3x the wall (SCALE.md pipeline_web rows; 58 nodes fenced).",
    "q_random_project" ->
      "JL projection: the 16x64 gaussian matrix rides the task binary (addReferenceObj) and the projection is one codegen'd kernel call in a narrow Project — no join against a matrix table, no shuffle; the only post-stage is the posexplode to verification grain.",
    "q_connected_components" ->
      "Distributed connected components (localMaxEdges=0): large-star/small-star rounds are (node, min-neighbour) aggregates + edge-grain joins — every exchange keys on node ids, nothing corpus-wide, convergence in O(log n) rounds with the edge set SHRINKING monotonically.",
    "q_pipeline_incremental" ->
      "Composed incremental ingest: the within-corpus pair feeds (the ref state from the artifact, the batch↔batch half of the batch edges) fit the broadcast budget here and arrive as local frames paired on the driver; the batch↔artifact half is the id-only banded LSH exchange (hash-set payloads re-join per candidate only); the batch contracts at LABEL grain, and the historical labeling flows through exactly ONE BroadcastHashJoin relabel. Nothing downstream of the two banded exchanges is corpus-sized, and no historical pair is recomputed.",
    "q_cc_incremental" ->
      "Incremental connected components: the artifact is SCANNED twice and EXCHANGED never — the touched-slice lookup is a map-side BroadcastHashJoin LeftSemi against the batch endpoints (r17 fix: the old endpoints LEFT JOIN artifact shuffled the full artifact on id every ingest, as did the new-node anti join), and the relabel is ONE BroadcastHashJoin against the touched-component mapping (batch-bounded and fenced; each of the two broadcasts needs its fence's exact size within autoBroadcastJoinThreshold, else a shuffle join). The canonicality guard is a raise_error expression fused into the artifact projection — zero extra jobs. No historical edge is rescanned anywhere in the plan.",
    "q_mmr_rerank" ->
      "MMR diversified re-ranking: ONE corpus join fetches candidate vectors; the pairwise-cosine table is id-grain and checkpoint-fenced; each of the k greedy steps is a broadcast-sized equi-join + argmax window over (queries x candidates) rows — iteration count = k, no frame is ever corpus-sized past the candidate fetch, and every argmax orders on 6-dp-rounded scores with id tie-break (engine-portable pick sequence).",
    "q_script_profile" ->
      "Unicode script profile: ONE codegen'd kernel call (ScriptCountsExpr — a single code-point loop classifying all eight script classes) in a narrow Project, ZERO exchanges; the frac columns and the dominant-script argmax live in chained selects referencing plain attributes — folding the argmax into one expression embeds each frac subtree in both branches of every CaseWhen step (~2^8 copies, conditionally evaluated so CSE cannot dedupe: the r14 57s hazard, now 0.4s).",
  )

  /** Queries dumped with broadcasts off
    * (`spark.sql.autoBroadcastJoinThreshold = -1`): at this scale
    * factor their inputs fit the budget and take a small-input route
    * (the within-corpus LSH pairing on the driver, the quantile
    * aggregate, the broadcast bloom joins), so this shows the scale
    * route a larger input takes instead. */
  private val distributedRoute = Seq(
    "q_minhash_dedup" ->
      "LSH shape, distributed route: banded Exchange carries (id, band, bucket) only; the hot-bucket cap is a left-anti join against the over-cap bucket count; hash-set payloads re-join by id after candidate generation.",
    "q_bloom_decontaminate" ->
      "Driver-collect rung (an eval side of at most threshold / 1 KiB docs — this corpus at the default budget — delegates to the exact decontaminate pass instead): one sizing collect lands the eval gram set, within maxDriverGrams, on the driver, which builds the bloom and ships the grams as the broadcast LocalTableScan of the verify join. Train docs pass the codegen'd bloom_any_contain Filter before the gram explode, so only candidates explode and join; the anti join then drops them from train (sort-merge here only because broadcasts are off). Past maxDriverGrams the distributed regime builds the bloom from a fence of the eval grams — 94x join-volume cut at 8x corpus (SCALE.md r11), pinned by the maxDriverGrams=1 scale row.",
    "q_bloom_semi" ->
      "Bloom-prefiltered EXACT semi join, bloom route (a right key column of at most threshold / 8 rows — judged by the ACTUAL right row count, never the expectedItems hint — takes a plain broadcast join of the KEY PROJECTION only, which is what sf0.01 takes at the default budget): bloom_might_contain(xxhash64(key)) is a Filter on the left SCAN — candidates are pruned before any exchange; the exact semi join then removes false positives. The operator's case is a right side too big to broadcast, where the left exchange carries only the candidate fraction.",
    "q_exact_quantile" ->
      "Exact global quantiles, rank route (an input of at most threshold / 8 rows takes one sorted-array aggregate — bit-identical values, which is what sf0.01 takes at the default budget): only the VALUE column is range-partitioned and sorted, inside the one fence job (the Scan ExistingRDD leaf); ids are partition offsets + position in a narrow Project. Each q's two lookup ranks (floor and ceil of q*(n-1), n read off the fence) are a LocalTableScan + Generate subplan that BROADCASTS into a BroadcastHashJoin on the rank, so the corpus side has no exchange; the only exchange above the fence is the q-grain aggregate that takes the lower value. The same body, grouped, serves q_group_quantile; the naive raw pair sorts the corpus through a single-partition Window.",
    "q_qcut" ->
      "Equi-depth bucketing, rank route (within threshold / 8 rows the router swaps the bounds subplan for one Percentile aggregate per group — safe there because the total row count caps every group's buffer): the exact interior bounds come from the same rank body as q_exact_quantile — range-partitioned sorted values behind the fence (Scan ExistingRDD), the broadcast lookup ranks in a BroadcastHashJoin, a q-grain aggregate interpolating the two values — with no value-buffering percentile aggregate in the plan (a billion-row group would OOM its one buffer). The bounds reassemble to one (numBuckets-1)-element array (ObjectHashAggregate; no group keys here, so one row) that BROADCASTS back over the corpus scan in a BroadcastNestedLoopJoin LeftOuter; bucket assignment is a narrow array-fold Project. No Window over the corpus — the ntile formulation would sort it through one partition per group.")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/plans_warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of headline queries\n\n")
    sb.append("Generated by `graft.Plans` at sf dir `").append(sfDir)
      .append("`. Each section: the scale property the plan must show, then\n")
      .append("`explain(\"formatted\")` output (truncated to the operator tree + scan details).\n")

    def section(title: String, name: String, note: String): Unit = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // keep the tree + the first screenful of node details
      val lines = formatted.linesIterator.toSeq
      val cut = {
        val treeEnd = lines.indexWhere(_.trim.isEmpty)
        val keep = if (treeEnd < 0) lines else lines.take(math.min(lines.length, treeEnd + 60))
        keep.mkString("\n")
      }
      sb.append(s"\n## $title\n\n$note\n\n```\n$cut\n```\n")
    }
    headline.foreach { case (name, note) => section(name, name, note) }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    distributedRoute.foreach { case (name, note) =>
      section(s"$name (autoBroadcastJoinThreshold = -1)", name, note)
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size + distributedRoute.size} sections)")
    spark.stop()
  }
}
