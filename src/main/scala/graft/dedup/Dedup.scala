package graft.dedup

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{BoundedCollect, DataFrameOps, Fence}
import graft.functions.HashKernels
import graft.text.TextFunctions

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * exact dedup is a hash-partitioned window; MinHash/SimHash reduce the
  * candidate space with banding so the only wide exchange is a shuffle
  * on (band, bucket) keys, and the expensive verification only runs on
  * candidate pairs. Signatures are computed with higher-order Catalyst
  * expressions (xxhash64-based), no UDFs, so signature generation is a
  * single narrow pass over the corpus.
  *
  * Within-corpus pairing ([[verifiedPairsFromBase]]) takes one of two
  * routes over the same fenced base, with the same result. A base
  * that fits the session's broadcast budget
  * (`spark.sql.autoBroadcastJoinThreshold`) is paired on the driver:
  * one bounded collect of (id, hash set, band buckets), then the cap,
  * the candidates and their verification in driver memory, returned
  * as a local frame. A larger base takes the distributed route, where
  * the banded exchange and the bucket self-join carry ONLY (id, band,
  * bucket) — never the shingle arrays or text — and the verification
  * payloads (shingle/ngram sets) are re-joined by id AFTER candidate
  * pairs are known, so the wide exchange is a few dozen bytes per row
  * regardless of document size. Cross-corpus pairing always takes the
  * distributed route. Hot buckets (boilerplate / empty docs) are
  * capped at `maxBucketSize` members to bound the worst-case pair
  * blowup — a bucket over the cap is dropped (its members
  * overwhelmingly re-pair in other bands).
  */
object Dedup {

  /** MinHash-LSH S-curve: the probability that a pair with TRUE
    * Jaccard `j` shares at least one of `bands` buckets when each band
    * hashes `rows` signature values — 1 − (1 − j^rows)^bands. The
    * recall model behind every banding choice in this family
    * (Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" §3.4). */
  def lshRecallAt(jaccard: Double, bands: Int, rows: Int): Double = {
    require(jaccard >= 0.0 && jaccard <= 1.0,
      s"lshRecallAt: jaccard must be in [0, 1], got $jaccard")
    require(bands >= 1 && rows >= 1,
      s"lshRecallAt: bands and rows must be >= 1, got ($bands, $rows)")
    1.0 - math.pow(1.0 - math.pow(jaccard, rows), bands)
  }

  /** Choose an LSH banding for a target similarity `threshold`: among
    * the (bands, rows) factorizations of `numHashes`, the FEWEST-bands
    * configuration whose S-curve recall AT the threshold is at least
    * `minRecallAtThreshold`. Fewer bands = fewer banded-exchange rows
    * per document AND a steeper cut below the threshold (candidate
    * volume falls), so the cheapest qualifying rung is also the most
    * precise one — the same cost-dial reasoning as
    * [[simHash128Rung]]'s radius rungs, solved from the curve instead
    * of hand-picked. Returns (bands, rows); throws when even
    * bands = numHashes (rows = 1) cannot reach the recall target —
    * raise `numHashes` rather than silently under-recalling.
    *
    * The library default (64 hashes, 16×4) is exactly
    * `bandingFor(0.7, 64)`: recall 0.988 at j = 0.7, 0.99999 at
    * j = 0.85, and only 0.34 at j = 0.4 — the knee the defaults were
    * tuned to (spec-pinned).
    *
    * CAVEAT (r17): "fewest qualifying bands is also most precise"
    * holds only WITHIN the divisor lattice (ascending bands there is
    * descending rows). For a PRIME `numHashes` the lattice collapses
    * to (1, p) and (p, 1), and (p, 1) — the inevitable answer — is
    * the shallowest possible curve. Use [[bandingForBudget]] for
    * prime/awkward widths (it bands a prefix of the signature, which
    * the kernel supports natively). */
  def bandingFor(
      threshold: Double,
      numHashes: Int = 64,
      minRecallAtThreshold: Double = 0.95): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"bandingFor: threshold must be in (0, 1), got $threshold")
    require(numHashes >= 1, s"bandingFor: numHashes must be >= 1, got $numHashes")
    require(minRecallAtThreshold > 0.0 && minRecallAtThreshold < 1.0,
      s"bandingFor: minRecallAtThreshold must be in (0, 1), got $minRecallAtThreshold")
    val candidates = (1 to numHashes)
      .filter(numHashes % _ == 0) // bands must divide the signature
      .map(b => (b, numHashes / b))
    candidates
      .find { case (b, r) => lshRecallAt(threshold, b, r) >= minRecallAtThreshold }
      .getOrElse(throw new IllegalArgumentException(
        s"bandingFor: no banding of $numHashes hashes reaches recall " +
          s"$minRecallAtThreshold at threshold $threshold (best is " +
          f"bands=$numHashes rows=1 at ${lshRecallAt(threshold, numHashes, 1)}%.4f)" +
          " — raise numHashes"))
  }

  /** [[bandingFor]] without the exact-cover constraint: any (bands,
    * rows) with bands × rows ≤ `numHashes` — the banding kernel
    * already reads only the first bands × rows signature entries
    * ([[graft.functions.HashKernels.bandBuckets]] clamps at the array
    * end), so "waste" a few trailing hashes when the curve says to.
    *
    * Selection: the LARGEST rows with any qualifying band count, then
    * the SMALLEST qualifying bands at that rows — rows sets the
    * S-curve steepness (candidate volume below the threshold falls as
    * j^rows), bands only buys recall back, so maximal-rows-minimal-
    * bands is the fewest banded-exchange rows AND the sharpest
    * sub-threshold cut that still meets the recall target.
    *
    * This answers the prime/awkward-width question the divisor solver
    * can't (r16 verdict): for a PRIME `numHashes` the only exact
    * factorizations are (1, p) — which under-recalls — and (p, 1) —
    * the shallowest possible curve, pairing every document that
    * shares ANY single minhash, i.e. maximal exchange volume and
    * worst precision. Here numHashes = 61 at the library's default
    * target solves to (11, 4) — 44 of the 61 hashes banded, the rest
    * idle — instead of 61 single-hash buckets. For composite
    * widths it can also dominate the divisor solver: at (0.7, 64,
    * 0.95) it returns (11, 4) — recall 0.951 at j = 0.7 vs the
    * divisor solver's (16, 4) at 0.988, but 31 % fewer exchange rows
    * and a sharper cut (0.25 vs 0.34 recall at j = 0.4). The divisor
    * form stays the DEFAULT solver because its answer at the library
    * defaults is the hand-tuned 16×4 the bench/oracles pin; reach for
    * this one when numHashes is awkward or exchange volume is the
    * binding constraint.
    *
    * CONSUMING the answer: pass `numHashes = bands × rows` to the
    * operators (their divisibility check then holds exactly). This is
    * sound because minhash signatures have the PREFIX property — seed
    * i's minimum is independent of the signature width, so a width-44
    * signature IS the first 44 entries of the width-64 one
    * (spec-pinned) — banding a fresh b×r-wide signature and banding a
    * b×r prefix of a wider one produce identical buckets. Artifact
    * serving is the exception: a [[saveMinHashRef]] artifact must be
    * served at its TRAINED width, so apply budget bandings at train
    * time. */
  def bandingForBudget(
      threshold: Double,
      numHashes: Int = 64,
      minRecallAtThreshold: Double = 0.95): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"bandingForBudget: threshold must be in (0, 1), got $threshold")
    require(numHashes >= 1,
      s"bandingForBudget: numHashes must be >= 1, got $numHashes")
    require(minRecallAtThreshold > 0.0 && minRecallAtThreshold < 1.0,
      s"bandingForBudget: minRecallAtThreshold must be in (0, 1), " +
        s"got $minRecallAtThreshold")
    val solutions = for {
      rows <- numHashes to 1 by -1
      bands <- 1 to (numHashes / rows)
      if lshRecallAt(threshold, bands, rows) >= minRecallAtThreshold
    } yield (bands, rows)
    // the generator scans rows descending, bands ascending: the first
    // hit is maximal-rows-minimal-bands
    solutions.headOption.getOrElse(throw new IllegalArgumentException(
      s"bandingForBudget: no banding within $numHashes hashes reaches " +
        s"recall $minRecallAtThreshold at threshold $threshold (best is " +
        f"bands=$numHashes rows=1 at ${lshRecallAt(threshold, numHashes, 1)}%.4f)" +
        " — raise numHashes"))
  }

  /** Exact dedup on normalised text: keep the lowest-id row per
    * fingerprint. One shuffle on the (md5) fingerprint. Output schema ==
    * input schema (helper columns are collision-safe and dropped).
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) s"__graft_$base" else s"__graft_${base}_$i")
        .find(!df.columns.contains(_)).get
    val fpCol = fresh("fingerprint")
    val rnCol = fresh("rn")
    val w = Window.partitionBy(fpCol).orderBy(col(idCol))
    df.withColumn(fpCol, TextFunctions.fingerprint(col(textCol)))
      .withColumn(rnCol, row_number().over(w))
      .filter(col(rnCol) === 1)
      .drop(fpCol, rnCol)
  }

  /** Band a signature array into `bands` bucket hashes (one xxh64 chain
    * per contiguous rows-sized slice) — native codegen'd kernel; the
    * interpreted HOF form (slice → concat_ws → xxhash64) allocated a
    * string per band per row and dominated the banding stage. */
  private def bandBuckets(sig: Column, bands: Int, rows: Int): Column =
    graft.functions.HashFunctions.bandBucketsNative(sig, bands, rows)

  /** Rows per band of a `numHashes`-wide signature cut into `bands`
    * bands — the one banding check every MinHash-family operator
    * shares (solve `bands` with [[bandingFor]] / [[bandingForBudget]]
    * to state a recall target instead). */
  private def rowsPerBand(numHashes: Int, bands: Int): Int = {
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes ($numHashes) must divide evenly into bands ($bands)")
    numHashes / bands
  }

  /** (band, bucket) exploded view carrying ONLY the id — the shuffle and
    * self-join payload stays tiny no matter how large the documents are. */
  private def banded(withSig: DataFrame, bands: Int, rows: Int): DataFrame =
    withSig.select(col("id"),
      posexplode(bandBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket")))

  /** The hot-bucket cap every LSH pairing goes through: a (band,
    * bucket) row survives iff its bucket has at most `maxBucketSize`
    * members; `maxBucketSize <= 0` disables the cap. A map-side-
    * combined (band, bucket) count finds the over-cap buckets (its
    * exchange moves only per-task distinct keys after the partial agg)
    * and a left-anti join removes their rows, so a degenerate bucket
    * (corpus-wide boilerplate) never passes through a single window
    * task's sort. The anti join carries NO broadcast hint: the over-cap
    * set is tiny for a sane cap but grows as bandedRows / maxBucketSize
    * for a small one, so size estimation and AQE pick the strategy. */
  private def capBuckets(bandedIds: DataFrame, maxBucketSize: Int): DataFrame =
    hotBuckets(bandedIds, maxBucketSize).fold(bandedIds)(
      hot => bandedIds.join(hot, Seq("band", "bucket"), "left_anti"))

  /** The over-cap `(band, bucket)` keys of a banded frame — the ONE
    * count rule behind [[capBuckets]] and the over-guard streaming
    * full-recall fence ([[graft.streaming.Streaming.dedupBatchAgainstStore]]),
    * which flags these buckets instead of dropping them; its under-guard
    * route applies the same rule to the batch held on the driver
    * ([[graft.streaming.Streaming.withinBatchLosers]]). `None` when
    * `maxBucketSize <= 0` (cap disabled). */
  private[graft] def hotBuckets(
      bandedIds: DataFrame, maxBucketSize: Int): Option[DataFrame] =
    if (maxBucketSize <= 0) None
    else Some(bandedIds.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(col("__bucket_n") > maxBucketSize)
      .select(col("band"), col("bucket")))

  /** Same-bucket candidate id pairs (id_a < id_b, distinct) within one
    * banded corpus, hot buckets capped by [[capBuckets]]. */
  private def candidatePairs(bandedIds: DataFrame, maxBucketSize: Int): DataFrame = {
    val capped = capBuckets(bandedIds, maxBucketSize)
    capped.as("l")
      .join(capped.as("r"),
        col("l.band") === col("r.band") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Join verification payload back onto candidate pairs by id — runs
    * only on the (small) candidate set, not through the LSH shuffle.
    * `aSide` supplies `id_a`'s payload, `bSide` `id_b`'s (the same
    * frame for within-corpus pairs). */
  private def attachPayload(
      pairs: DataFrame, aSide: DataFrame, bSide: DataFrame,
      payloadCol: String): DataFrame =
    pairs
      .join(aSide.select(col("id").as("id_a"), col(payloadCol).as(s"${payloadCol}_a")), "id_a")
      .join(bSide.select(col("id").as("id_b"), col(payloadCol).as(s"${payloadCol}_b")), "id_b")

  /** Exact hash-set Jaccard verification of candidate pairs —
    * equal to the string-set Jaccard up to (negligible) 64-bit
    * collisions. `(id_a, id_b, jaccard)` with jaccard ≥ threshold. */
  private def jaccardVerified(
      pairs: DataFrame, aSide: DataFrame, bSide: DataFrame,
      payloadCol: String, threshold: Double): DataFrame =
    attachPayload(pairs, aSide, bSide, payloadCol)
      .select(col("id_a"), col("id_b"),
        graft.functions.HashFunctions.hashJaccard(
          col(s"${payloadCol}_a"), col(s"${payloadCol}_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  private def shingled(shingleSize: Int)(text: Column): Column =
    graft.functions.HashFunctions.shingleHashesNative(
      TextFunctions.normalizedTokens(text), shingleSize)

  /** Staged signature pipeline shared by the MinHash operators: a
    * frame of `text` plus key columns signed — the keys, the hash set
    * `hs = hashes(text)` (empty or null for a document with no hash)
    * and its signature `sig`, each landed as a real column so no regex
    * split / string hash is re-evaluated inside a downstream lambda.
    * repartition() spreads the CPU-heavy narrow pass across all cores
    * even when the source is a single small file. UNFENCED — for a
    * single consumer ([[saveMinHashRef]]'s write); pairings read it
    * through [[signed]]. */
  private def signedKernels(
      keyed: DataFrame, numHashes: Int, hashes: Column => Column): DataFrame =
    keyed
      .repartition(keyed.sparkSession.sparkContext.defaultParallelism)
      .withColumn("hs", hashes(col("text")))
      .withColumn("sig",
        graft.functions.HashFunctions.minHashSignatureNative(col("hs"), numHashes))
      .select(keyed.columns.filter(_ != "text").map(col) :+ col("hs") :+ col("sig"): _*)

  /** [[signedKernels]] behind the materialisation fence every
    * text-computed LSH base shares, a [[graft.core.Fence]] named
    * `name`: ONE eager action (under AQE two Spark jobs: the
    * repartition's shuffle stage, then the fence itself) that runs the
    * kernels once per document. Each pairing reads a base many times —
    * banding, the hot-bucket count and anti-join on both self-join
    * sides, both payload joins — and an exchange is no fence: column
    * pruning hands banding (id, sig) and the payload joins (id, hs), so
    * no exchange is reused, and an exchange-fenced plan re-runs
    * tokenise → shingle-hash in every consumer. Documents with no hash
    * are dropped ABOVE the fence: a `size(hs) > 0` below it is pushed
    * under the repartition, and the map stage runs the kernel chain a
    * second time to evaluate it. */
  private def signed(
      keyed: DataFrame, numHashes: Int, hashes: Column => Column, name: String): DataFrame =
    Fence(signedKernels(keyed, numHashes, hashes), name).df.filter(size(col("hs")) > 0)

  /** The MinHash base of a text corpus: `(id, hs, sig)` behind the
    * fence of [[signed]]. */
  private def minHashBase(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleSize: Int): DataFrame =
    signed(df.select(col(idCol).as("id"), col(textCol).as("text")), numHashes,
      shingled(shingleSize), "minHashBase")

  /** MinHash-LSH near-duplicate pairs.
    *
    * Pipeline: shingle → signature (narrow) → explode ids into `bands`
    * buckets → shuffle once on (band, bucket) with id-only payload →
    * same-bucket id pairs → distinct → re-join shingle sets by id →
    * exact Jaccard verification; a base within the broadcast budget is
    * paired on the driver instead ([[verifiedPairsFromBase]]). With b
    * bands of r rows the effective candidate threshold is
    * ≈ (1/b)^(1/r); [[bandingFor]] solves `bands` from a recall target
    * at `threshold`.
    *
    * Construction runs the kernel fence of [[minHashBase]] and, when
    * the fenced base fits the broadcast budget, the driver route's
    * bounded collect: two eager actions (three jobs under AQE), and the
    * returned frame is local. Over the budget only the fence runs. The
    * returned frame's plan evaluates no text or hash kernel.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    */
  def minHashNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    verifiedPairsFromBase(
      minHashBase(df, textCol, idCol, numHashes, shingleSize),
      bands, rows, threshold, maxBucketSize)
  }

  /** Within-corpus verified pairs from a minhash base (`id`, hash set
    * `hs`, `sig`): banded candidates (hot-bucket capped), exact
    * hash-set Jaccard verification. `(id_a < id_b, jaccard)`, ids
    * compared by Catalyst's `<`; a duplicated id verifies every one of
    * its rows against every row of its partner id.
    *
    * The driver route runs when the base's size statistic (exact for a
    * fenced base) fits the session's broadcast budget,
    * `spark.sql.autoBroadcastJoinThreshold`: ONE bounded collect
    * ([[driverVerifiedPairs]]), and the pairs come back as a local
    * frame whose plan has no exchange and no join. The collect is
    * bounded in bytes at run time, so a base whose statistic
    * under-estimates it (a parquet artifact's file size) cannot bring
    * more than the budget to the driver. Otherwise — a budget `<= 0`,
    * a base over it, a collect over it, or more candidate pairs than
    * it holds at 16 bytes each — the distributed route pairs the same
    * base: an id-only banded self-join, distinct candidates, payloads
    * re-joined by id. Both routes return the same multiset of rows. */
  private[graft] def verifiedPairsFromBase(
      base: DataFrame,
      bands: Int,
      rows: Int,
      threshold: Double,
      maxBucketSize: Int): DataFrame = {
    val distributed = jaccardVerified(
      candidatePairs(banded(base, bands, rows), maxBucketSize), base, base, "hs", threshold)
    if (!DataFrameOps.fitsBroadcastBudget(base)) distributed
    else driverVerifiedPairs(base, bands, rows, threshold, maxBucketSize,
        DataFrameOps.broadcastBudget(base.sparkSession))
      .fold(distributed)(pairs => base.sparkSession.createDataFrame(
        java.util.Arrays.asList(pairs: _*), distributed.schema))
  }

  /** The driver route of [[verifiedPairsFromBase]]: ONE
    * [[graft.core.BoundedCollect]] of `(id, hs, band buckets)` weighed
    * in bytes, then on the driver the cap (a bucket of more than
    * `maxBucketSize` rows, null ids counted, is dropped), the distinct
    * `id_a < id_b` candidates of the kept buckets, and their
    * verification by [[HashKernels.hashJaccard]]. `None` when the
    * collect outweighs `budget`, or when the kept buckets' pairs,
    * Σ C(k, 2) at 16 bytes each, do. */
  private def driverVerifiedPairs(
      base: DataFrame, bands: Int, rows: Int, threshold: Double,
      maxBucketSize: Int, budget: Long): Option[Array[Row]] = {
    val idType = base.schema("id").dataType
    BoundedCollect(base.select(col("id"), col("hs"), bandBuckets(col("sig"), bands, rows)),
        budget, _.getSizeInBytes.toLong)(_.toArray).toOption.map(_.flatten).flatMap { docs =>
      val members = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[Int]]
      for (i <- docs.indices if !docs(i).isNullAt(2)) {
        val buckets = docs(i).getArray(2)
        for (band <- 0 until buckets.numElements())
          members.getOrElseUpdate((band, buckets.getLong(band)), mutable.ArrayBuffer.empty) += i
      }
      val kept = members.valuesIterator
        .filter(m => m.size > 1 && (maxBucketSize <= 0 || m.size <= maxBucketSize)).toArray
      if (kept.iterator.map(m => m.size.toLong * (m.size - 1) / 2).sum > budget / 16) None
      else {
        // equal ids share a rank, ranks ascend with Catalyst's `<`, and
        // a null id has none: pairs of ranks are pairs of ids
        val ids = docs.map(d => if (d.isNullAt(0)) null else d.get(0, idType))
        val ord = TypeUtils.getInterpretedOrdering(idType)
        val rank = Array.fill(docs.length)(-1)
        val rowsOf = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Int]]
        docs.indices.filter(ids(_) != null).sortBy(ids(_))(ord).foreach { i =>
          if (rowsOf.isEmpty || ord.gt(ids(i), ids(rowsOf.last.head)))
            rowsOf += mutable.ArrayBuffer.empty[Int]
          rowsOf.last += i
          rank(i) = rowsOf.length - 1
        }
        val candidates = mutable.HashSet.empty[Long]
        for (m <- kept; x <- m.indices; y <- x + 1 until m.length) {
          val (a, b) = (rank(m(x)), rank(m(y)))
          if (a >= 0 && b >= 0 && a != b)
            candidates += (math.min(a, b).toLong << 32) | math.max(a, b)
        }
        val toScala = CatalystTypeConverters.createToScalaConverter(idType)
        Some(for {
          c <- candidates.toArray
          i <- rowsOf((c >>> 32).toInt)
          j <- rowsOf(c.toInt)
          if !docs(i).isNullAt(1) && !docs(j).isNullAt(1)
          jaccard = HashKernels.hashJaccard(docs(i).getArray(1), docs(j).getArray(1))
          if jaccard >= threshold
        } yield Row(toScala(ids(i)), toScala(ids(j)), jaccard))
      }
    }
  }

  /** Verified cross-corpus pairs from two minhash bases: band both
    * sides to (id, band, bucket), hot-bucket-cap the REFERENCE side
    * ([[capBuckets]] — a batch cannot make a reference bucket hot),
    * equi-join on (band, bucket), verify by exact hash-set Jaccard.
    * `id_a` is the new-batch side, `id_b` the reference side. */
  private[graft] def crossVerifiedPairs(
      newBase: DataFrame,
      refBase: DataFrame,
      bands: Int,
      rows: Int,
      threshold: Double,
      maxBucketSize: Int): DataFrame = {
    val refBanded = capBuckets(banded(refBase, bands, rows), maxBucketSize)
    val pairs = banded(newBase, bands, rows).as("n")
      .join(refBanded.as("r"),
        col("n.band") === col("r.band") && col("n.bucket") === col("r.bucket"))
      .select(col("n.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    jaccardVerified(pairs, newBase, refBase, "hs", threshold)
  }

  /** `df` without every row that is the batch side (`id_a`) of a
    * cross-corpus pair — the dedup forms of the cross pairings. */
  private def withoutMatched(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_a").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Load + validate a [[saveMinHashRef]] artifact: schema and
    * signature width checked loudly before any work. Documents with no
    * shingle are dropped here, as [[signed]] drops them above its
    * fence. */
  private def loadMinHashRefBase(
      spark: org.apache.spark.sql.SparkSession,
      refPath: String,
      numHashes: Int,
      op: String): DataFrame = {
    val artifact = spark.read.parquet(refPath)
    require(artifact.columns.toSet == Set("id", "hs", "sig"),
      s"$op: $refPath is not a saveMinHashRef artifact " +
        s"(columns ${artifact.columns.mkString(", ")})")
    val refBase = artifact.filter(size(col("hs")) > 0)
    refBase.select(size(col("sig")).as("w")).limit(1).collect()
      .foreach(r => require(r.getInt(0) == numHashes,
        s"$op: artifact signature width ${r.getInt(0)} != numHashes " +
          s"$numHashes — serve with the training parameters"))
    refBase
  }

  /** Verified near-duplicate pairs WITHIN a persisted
    * [[saveMinHashRef]] corpus — [[minHashNearDuplicates]] served
    * entirely from the text-free artifact (`(id_a < id_b, jaccard)`):
    * the whole pair graph, and from it the cluster state, is derivable
    * without ever rescanning or storing the reference text.
    * Construction runs the artifact's width check and, when the
    * artifact's size statistic fits the broadcast budget, the bounded
    * collect of [[verifiedPairsFromBase]]'s driver route. */
  def minHashPairsFromRef(
      spark: org.apache.spark.sql.SparkSession,
      refPath: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    verifiedPairsFromBase(
      loadMinHashRefBase(spark, refPath, numHashes, "minHashPairsFromRef"),
      bands, rows, threshold, maxBucketSize)
  }

  /** The COMPLETE new-edge feed for incremental cluster maintenance in
    * ONE batch kernel pass: every near-dup pair the union corpus gains
    * from `df` — batch↔batch ([[minHashNearDuplicates]] semantics)
    * plus batch↔artifact ([[minHashCrossPairsRef]] semantics) — with
    * the batch's minhash base computed once (the [[minHashBase]]
    * fence serves both pair passes) and the reference side served from
    * the [[saveMinHashRef]] artifact, its text never touched and its
    * kernels never recomputed. Construction runs the artifact's width
    * check, ONE kernel fence and, when the fenced batch base fits the
    * broadcast budget, the bounded collect that pairs it on the driver
    * ([[verifiedPairsFromBase]]). Feed the result (with the prior
    * labeling) to [[graft.operators.Graph.connectedComponentsAgainst]].
    * `(id_a, id_b, jaccard)`; batch↔batch pairs have id_a < id_b,
    * cross pairs have id_a from the batch. */
  def minHashIncrementalEdges(
      df: DataFrame,
      refPath: String,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    val refBase = loadMinHashRefBase(df.sparkSession, refPath, numHashes,
      "minHashIncrementalEdges")
    val base = minHashBase(df, textCol, idCol, numHashes, shingleSize)
    verifiedPairsFromBase(base, bands, rows, threshold, maxBucketSize)
      .unionByName(crossVerifiedPairs(base, refBase, bands, rows,
        threshold, maxBucketSize))
  }

  /** Cross-corpus near-dedup — the incremental-ingest shape: remove
    * from `df` (the NEW batch) every document within `threshold`
    * Jaccard of ANY document in `ref` (the existing corpus). Candidate
    * generation is the same banded MinHash exchange as
    * [[minHashNearDuplicates]], but joined ACROSS the two corpora:
    * both sides band to (id, band, bucket) — id-only payloads — and
    * only same-bucket cross pairs verify by exact hash-set Jaccard.
    * At 100 TB the ref side's banding can be computed once and reused
    * across ingests ([[saveMinHashRef]] / [[minHashDedupAgainstRef]]);
    * the per-batch cost is the NEW side's narrow signature pass plus
    * the bucket join. Hot ref buckets are capped at `maxBucketSize`
    * like the self-join path. Construction runs the one fence of
    * [[minHashCrossPairs]] over both corpora.
    *
    * Returns the surviving rows of `df`, schema unchanged.
    */
  def minHashDedupAgainst(
      df: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame =
    withoutMatched(df, idCol, minHashCrossPairs(df, ref, textCol, idCol,
      numHashes, bands, shingleSize, threshold, maxBucketSize))

  /** Verified NEAR-DUPLICATE PAIRS of a new batch against an existing
    * corpus — [[minHashDedupAgainst]]'s candidate machinery exposed at
    * pair grain: `(id_a, id_b, jaccard)` with `id_a` from `df` (the
    * batch) and `id_b` from `ref`, every pair exact-verified at
    * `>= threshold` hash-set Jaccard. This is the EDGE FEED for
    * incremental cluster maintenance: together with
    * [[minHashNearDuplicates]] over the batch alone, it yields every
    * pair the union corpus gains from the batch (batch↔ref here,
    * batch↔batch there; ref↔ref pairs are already in the cluster
    * artifact), ready for
    * [[graft.operators.Graph.connectedComponentsAgainst]]. Same scale
    * shape as the dedup form: id-only banded exchange, ref-side
    * hot-bucket cap, payloads re-joined per candidate. Construction
    * runs ONE eager action (two jobs under AQE): both corpora's
    * kernels behind one fence over a side-tagged union. */
  def minHashCrossPairs(
      df: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    // each side's id in its own column, so each keeps its own type;
    // the fence drops the union's constraints, so no filter inferred
    // from them re-runs a kernel above it
    def idType(d: DataFrame) = d.select(col(idCol)).schema.head.dataType
    def tagged(d: DataFrame, isRef: Boolean) = d.select(
      (if (isRef) lit(null).cast(idType(df)) else col(idCol)).as("id_n"),
      (if (isRef) col(idCol) else lit(null).cast(idType(ref))).as("id_r"),
      lit(isRef).as("is_ref"), col(textCol).as("text"))
    val both = signed(tagged(df, isRef = false).unionByName(tagged(ref, isRef = true)),
      numHashes, shingled(shingleSize), "minHashCrossPairs")
    def side(isRef: Boolean, id: String) = both.filter(col("is_ref") === isRef)
      .select(col(id).as("id"), col("hs"), col("sig"))
    crossVerifiedPairs(side(isRef = false, "id_n"), side(isRef = true, "id_r"),
      bands, rows, threshold, maxBucketSize)
  }

  /** Persist a reference corpus as a TEXT-FREE minhash artifact —
    * (id, hs, sig) parquet, where `hs` is the distinct shingle-hash
    * set (exact-verification payload) and `sig` the minhash
    * signature: the train-once/serve-forever pattern of
    * AnnIndex.save / saveBpeMerges applied to incremental-ingest
    * dedup. Every later batch dedups against the artifact
    * ([[minHashDedupAgainstRef]]) without the reference TEXT ever
    * being stored or rescanned — the raw corpus can be retired while
    * ingest keeps its dedup guarantee. Parameters are part of the
    * artifact contract: serve with the same numHashes/shingleSize.
    * One job, unfenced: the write is the base's only consumer, and
    * the artifact read back needs no fence (it holds no kernel). The
    * write keeps documents with no shingle (an empty or null `hs`):
    * a filter on `hs` here would be pushed under the repartition and
    * run the kernel chain twice; the readers drop them. */
  def saveMinHashRef(
      ref: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      numHashes: Int = 64,
      shingleSize: Int = 3): Unit =
    signedKernels(ref.select(col(idCol).as("id"), col(textCol).as("text")), numHashes,
      shingled(shingleSize)).write.mode("overwrite").parquet(path)

  /** [[minHashDedupAgainst]] where the reference side is a persisted
    * [[saveMinHashRef]] artifact: identical semantics (banded LSH
    * candidates, exact hash-set Jaccard verification, same
    * `maxBucketSize` guard) with the reference's text never touched.
    * Validates the artifact schema and signature width LOUDLY before
    * any work; construction then runs ONE kernel fence (the batch's
    * [[minHashBase]]). */
  def minHashDedupAgainstRef(
      df: DataFrame,
      refPath: String,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    val refBase = loadMinHashRefBase(df.sparkSession, refPath, numHashes,
      "minHashDedupAgainstRef")
    withoutMatched(df, idCol, crossVerifiedPairs(
      minHashBase(df, textCol, idCol, numHashes, shingleSize),
      refBase, bands, rows, threshold, maxBucketSize))
  }

  /** [[minHashCrossPairs]] where the reference side is a persisted
    * [[saveMinHashRef]] artifact — pair-grain serving with the
    * reference text never touched; schema and signature width
    * validated loudly like [[minHashDedupAgainstRef]], then ONE kernel
    * fence (the batch's [[minHashBase]]). */
  def minHashCrossPairsRef(
      df: DataFrame,
      refPath: String,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    val refBase = loadMinHashRefBase(df.sparkSession, refPath, numHashes,
      "minHashCrossPairsRef")
    crossVerifiedPairs(
      minHashBase(df, textCol, idCol, numHashes, shingleSize),
      refBase, bands, rows, threshold, maxBucketSize)
  }

  /** 64-bit SimHash of a text column: per-token xxhash64, each bit votes
    * ±1, fingerprint bit = sign of the vote sum — the native token-hash
    * and SimHash kernels composed, narrow. */
  def simHash(text: Column): Column =
    graft.functions.HashFunctions.simHashNative(
      graft.functions.HashFunctions.tokenHashesNative(
        TextFunctions.normalizedTokens(text)))

  /** SimHash near-duplicate pairs with a GUARANTEED recall contract:
    * every pair within Hamming distance `maxHamming` lands in at least
    * one shared bucket (before the hot-bucket cap), because the banding
    * scheme is derived from `maxHamming` by pigeonhole — the block-
    * combination index of Manku et al., "Detecting Near-Duplicates for
    * Web Crawling" (WWW'07) §3:
    *
    *   - maxHamming ≤ 3 → 4 blocks of 16 bits, bucket = 1 block
    *     (3 flipped bits corrupt ≤ 3 blocks ⇒ ≥ 1 block matches);
    *   - maxHamming ≤ 6 → 8 blocks of 8 bits, bucket = each of the
    *     C(8,2)=28 block PAIRS (6 flips corrupt ≤ 6 blocks ⇒ ≥ 2 clean
    *     blocks ⇒ some indexed pair matches), keeping the bucket
    *     keyspace at 16 bits so buckets don't collapse at corpus scale
    *     the way raw 8-bit blocks would.
    *
    * `maxHamming > 6` is rejected: the next rung (single 8-bit blocks)
    * has a 256-value keyspace whose buckets degenerate into an
    * all-pairs join on any real corpus — widen the fingerprint instead.
    *
    * Pipeline: fingerprint (narrow, native kernels) → explode ids into
    * combo buckets → bucket-join with id-only payload → re-join the
    * fingerprints by id → verify with bit_count(XOR). Hot buckets (e.g.
    * the all-zero block of short docs) capped like MinHash buckets —
    * the cap is the one path that can drop a guaranteed pair, and it is
    * an explicit scale/recall dial, not a silent property of the
    * banding.
    *
    * Construction runs ONE eager action, the fingerprint pass behind
    * the [[simHashBase]] fence; the returned plan evaluates no kernel.
    */
  def simHashNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    // before the fence: a radius the index cannot serve runs no job
    requireSimHashRadius("simHashNearDuplicates", maxHamming)
    simHashPairs(
      simHashBase(df, textCol, idCol, graft.functions.HashFunctions.simHashNative),
      maxHamming, maxBucketSize)
  }

  /** (id, sim) fingerprints of a text corpus under `fingerprint` (a
    * token-hash-array kernel), behind the fence of [[minHashBase]]:
    * ONE action fingerprints each document once, and
    * banding, the hot-bucket count and anti-join and both payload
    * re-joins read the checkpoint. */
  private def simHashBase(
      df: DataFrame, textCol: String, idCol: String,
      fingerprint: Column => Column): DataFrame = df
    .select(col(idCol).as("id"), col(textCol).as("text"))
    .repartition(df.sparkSession.sparkContext.defaultParallelism)
    .withColumn("toks", TextFunctions.normalizedTokens(col("text")))
    .withColumn("th", graft.functions.HashFunctions.tokenHashesNative(col("toks")))
    .withColumn("sim", fingerprint(col("th")))
    .select("id", "sim")
    .transform(Fence(_, "simHashBase").df)

  /** Band-bucket array for a 64-bit SimHash fingerprint under the
    * block-combination index of [[simHashPairs]]: element i is band i's
    * bucket value, so `posexplode` yields exactly the (band, bucket)
    * keys the recall contract hashes on — any pair within `maxHamming`
    * shares at least one untouched block combination (Manku et al.,
    * WWW'07 §3; reference rdsa analogue has no near-dup machinery).
    * Public and SHARED by every consumer of the index — batch pairing
    * here and the streaming full-recall store join
    * ([[graft.streaming.Streaming.dedupBatchAgainstStore]]) — one
    * definition, so the banding scheme cannot diverge between the
    * batch and streaming contracts. */
  def simHashBandBuckets(sim: Column, maxHamming: Int): Column = {
    requireSimHashRadius("simHashBandBuckets", maxHamming)
    val (nBlocks, comboSize) = simHashRung(maxHamming)
    val blockBits = 64 / nBlocks
    def block(i: Int): Column =
      shiftright(sim, i * blockBits).bitwiseAND(lit((1L << blockBits) - 1L))
    // one bucket expression per block combination; band id = combo index
    array((0 until nBlocks).combinations(comboSize).toSeq.map {
      combo => combo.map(block).reduceLeft((acc, b) =>
        shiftleft(acc, blockBits).bitwiseOR(b))
    }: _*)
  }

  private def requireSimHashRadius(op: String, maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= 6,
      s"$op: the block-combination index guarantees " +
        s"recall only for maxHamming <= 6 (got $maxHamming) — use the " +
        "128-bit fingerprint ([[simHash128NearDuplicates]]) for larger radii")

  /** Near-duplicate pairs from PRECOMPUTED 64-bit fingerprints — input
    * must carry (`id`, `sim`) columns. The fingerprint-level half of
    * [[simHashNearDuplicates]] (same recall contract); public so
    * pipelines that persist fingerprints can re-pair without re-hashing
    * the corpus, and so the contract is testable with exact planted
    * Hamming distances. */
  def simHashPairs(
      fingerprints: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    val base = fingerprints.select(col("id"), col("sim"))
    val bandedIds = base.select(col("id"),
      posexplode(simHashBandBuckets(col("sim"), maxHamming))
        .as(Seq("band", "bucket")))
    val pairs = candidatePairs(bandedIds, maxBucketSize)
    attachPayload(pairs, base, base, "sim")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= lit(maxHamming))
      .select("id_a", "id_b", "hamming")
  }

  /** 128-bit SimHash of a text column as array<long>(2) — see
    * [[graft.functions.HashKernels.simHash128Compute]]: word 0 is the
    * 64-bit [[simHash]], word 1 votes on an independent remix of each
    * token hash. Use when the Hamming radius exceeds what 64-bit
    * banding can guarantee (radii 7–14), or when callers want the
    * tighter cosine estimate of 128 hyperplanes. */
  def simHash128(text: Column): Column =
    graft.functions.HashFunctions.simHash128Native(
      graft.functions.HashFunctions.tokenHashesNative(
        TextFunctions.normalizedTokens(text)))

  /** 128-bit SimHash near-duplicate pairs — same guaranteed-recall
    * contract as [[simHashNearDuplicates]] (every pair within
    * `maxHamming` shares a bucket before the hot-bucket cap), extended
    * to radii the 64-bit fingerprint cannot index:
    *
    *   - maxHamming ≤ 7 → 8 blocks of 16 bits, bucket = 1 block
    *     (7 flips corrupt ≤ 7 blocks ⇒ ≥ 1 of 8 matches); 8 bands;
    *   - maxHamming ≤ 14 → 16 blocks of 8 bits, bucket = each of the
    *     C(16,2)=120 block PAIRS (14 flips corrupt ≤ 14 blocks ⇒ ≥ 2
    *     clean ⇒ some indexed pair matches), 16-bit bucket keyspace.
    *
    * The 120-band rung is the price of a Hamming-14 guarantee: the
    * banded exchange carries ~120 × 20 B per document (≈2.4 KB — a few
    * × a 1 KB doc, vs 0.2% for MinHash). That is still id-only and
    * linear in the corpus — the candidate join, not the exchange,
    * stays the scale dial (`maxBucketSize`). Prefer the 64-bit variant
    * whenever maxHamming ≤ 6.
    *
    * The default radius is 7 — the widest radius the cheap 8-band rung
    * guarantees. Radii 8–14 all pay the same 120-band explode (~15×
    * the exchange volume), so moving past 7 at all costs as much as
    * going straight to 14: pick 7 unless the use case really needs
    * the wider radius, and then pick the radius the recall contract
    * needs, not 8 by habit.
    *
    * Construction runs ONE eager action, the fingerprint pass behind
    * the [[simHashBase]] fence.
    */
  def simHash128NearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 7,
      maxBucketSize: Int = 1000): DataFrame = {
    // before the fence: a radius the index cannot serve runs no job
    requireSimHash128Radius("simHash128NearDuplicates", maxHamming)
    simHash128Pairs(
      simHashBase(df, textCol, idCol, graft.functions.HashFunctions.simHash128Native),
      maxHamming, maxBucketSize)
  }

  /** Near-duplicate pairs from PRECOMPUTED 128-bit fingerprints —
    * input must carry (`id`, `sim` array<long>(2)) columns. The
    * fingerprint-level half of [[simHash128NearDuplicates]]; public
    * for the same persist-then-re-pair and exact-planted-distance
    * testability reasons as [[simHashPairs]]. */
  def simHash128Pairs(
      fingerprints: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    requireSimHash128Radius("simHash128Pairs", maxHamming)
    // shape guard: a malformed fingerprint column would otherwise band
    // to null buckets and silently drop recall (or throw under ANSI)
    fingerprints.schema.find(_.name == "sim") match {
      case Some(f) => f.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) => ()
        case other => throw new IllegalArgumentException(
          s"simHash128Pairs: 'sim' must be array<bigint>, got ${other.simpleString}")
      }
      case None => throw new IllegalArgumentException(
        "simHash128Pairs: input must carry a 'sim' fingerprint column")
    }
    val (nBlocks, comboSize) = simHash128Rung(maxHamming)
    val blockBits = 128 / nBlocks
    val blocksPerWord = nBlocks / 2
    val base = fingerprints.select(col("id"), col("sim"))
    // row-level half of the guard: fail loudly on a wrong-length array.
    // Evaluated ONCE per row in its OWN projection — two wrong shapes,
    // both measured: wrapping each word() access re-evaluates the size
    // check per band expression (8× per row default rung, 240× on
    // C(16,2)); a Filter form gets predicate-pushed into the input's
    // plan, and over an unmaterialised fingerprint column that inlines
    // the full fingerprint KERNEL into the scan-side filter condition,
    // twice per row. A guarded projection does neither: CollapseProject
    // keeps it separate (non-cheap expression referenced by every
    // band), and Projects aren't subject to predicate pushdown. The
    // payload re-join reads unguarded `base` — every row passes the
    // banding branch first, so malformed rows cannot reach it.
    val guarded = base.select(col("id"),
      when(size(col("sim")) === 2, col("sim"))
        .otherwise(raise_error(concat(
          lit("simHash128Pairs: fingerprint array of length "),
          size(col("sim")), lit(" for id "), col("id").cast("string"),
          lit(" (expected 2)")))).as("sim"))
    def word(w: Int): Column = element_at(col("sim"), w + 1)
    def block(i: Int): Column =
      shiftright(word(i / blocksPerWord), (i % blocksPerWord) * blockBits)
        .bitwiseAND(lit((1L << blockBits) - 1L))
    val bucketExprs = (0 until nBlocks).combinations(comboSize).toSeq.map {
      combo => combo.map(block).reduceLeft((acc, b) =>
        shiftleft(acc, blockBits).bitwiseOR(b))
    }
    val bandedIds = guarded.select(col("id"),
      posexplode(array(bucketExprs: _*)).as(Seq("band", "bucket")))
    val pairs = candidatePairs(bandedIds, maxBucketSize)
    attachPayload(pairs, base, base, "sim")
      .withColumn("hamming",
        bit_count(element_at(col("sim_a"), 1).bitwiseXOR(element_at(col("sim_b"), 1))) +
          bit_count(element_at(col("sim_a"), 2).bitwiseXOR(element_at(col("sim_b"), 2))))
      .filter(col("hamming") <= lit(maxHamming))
      .select("id_a", "id_b", "hamming")
  }

  private def requireSimHash128Radius(op: String, maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= 14,
      s"$op: the C(16,2) block-pair index guarantees recall " +
        s"only for maxHamming <= 14 (got $maxHamming) — no wider rung " +
        "keeps a usable bucket keyspace at 128 bits")

  /** Banding rung for a 128-bit fingerprint radius: (blocks, blocks
    * per bucket). maxHamming ≤ 7 → single blocks of 16 bits (8 bands);
    * 8–14 → all C(16,2)=120 pairs of 8-bit blocks. Public to the test
    * suite so the radius→cost cliff at 8 stays pinned. */
  private[graft] def simHash128Rung(maxHamming: Int): (Int, Int) =
    if (maxHamming <= 7) (8, 1) else (16, 2)

  /** Number of bands (bucket expressions) a radius costs. */
  private[graft] def simHash128BandCount(maxHamming: Int): Int = {
    val (n, k) = simHash128Rung(maxHamming)
    (0 until n).combinations(k).size
  }

  /** Banding rung for a 64-bit fingerprint radius: (blocks, blocks per
    * bucket) of [[simHashBandBuckets]]' block-combination index —
    * maxHamming ≤ 3 → 4 single 16-bit blocks; 4–6 → C(8,2) pairs of
    * 8-bit blocks. */
  private def simHashRung(maxHamming: Int): (Int, Int) =
    if (maxHamming <= 3) (4, 1) else (8, 2)

  /** Number of bands [[simHashBandBuckets]] emits for a radius — the
    * one source for consumers that size work by band count (the
    * streaming store probe's broadcast guard). */
  private[graft] def simHashBandCount(maxHamming: Int): Int = {
    val (n, k) = simHashRung(maxHamming)
    (0 until n).combinations(k).size
  }

  /** Distinct character n-grams of a string, as an array column. */
  def charNgrams(text: Column, n: Int = 3): Column =
    array_distinct(
      filter(
        transform(sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
          i => text.substr(i, lit(n))),
        s => length(s) === n))

  /** Character n-gram Jaccard similarity between two string columns. */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val ga = charNgrams(a, n)
    val gb = charNgrams(b, n)
    size(array_intersect(ga, gb)).cast("double") /
      size(array_union(ga, gb)).cast("double")
  }

  /** n-gram-Jaccard near-duplicate pairs.
    *
    * Blocking is MinHash-LSH over the character n-gram sets (the same
    * banding machinery as token MinHash — length-based blocking is NOT
    * a sufficient blocker: at t=0.8 a log-length band spans a 1.25×
    * ratio, putting most of a natural corpus in one band, i.e. an
    * all-pairs join). Verification computes exact Jaccard over the
    * n-gram sets (re-joined by id, or held on the driver when the base
    * fits the broadcast budget), so the output is exact over the candidate
    * set; recall follows the (bands, rows) S-curve.
    *
    * Construction runs the n-gram hashes and signatures behind the
    * fence of [[signed]] and, when the fenced base fits the broadcast
    * budget, the bounded collect of [[verifiedPairsFromBase]]'s driver
    * route: two eager actions (three jobs under AQE). Over the budget
    * only the fence runs.
    */
  def ngramJaccardNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      // 12 bands × 6 rows: candidate threshold (1/12)^(1/6) ≈ 0.66 with
      // 97% recall at j=0.8 — sharper than 4-row bands, which on a
      // self-similar corpus admit most mid-similarity pairs as
      // candidates and drown the verification stage
      numHashes: Int = 72,
      bands: Int = 12,
      maxBucketSize: Int = 1000): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    val base = signed(df.select(col(idCol).as("id"), col(textCol).as("text")),
      numHashes, t => graft.functions.HashFunctions.ngramHashesNative(
        TextFunctions.normalizeText(t), n), "ngramJaccardNearDuplicates")
    // hash-set Jaccard == n-gram-set Jaccard up to 64-bit collisions
    verifiedPairsFromBase(base, bands, rows, threshold, maxBucketSize)
  }

  /** The grams of the decontamination family: each document's id, in
    * its own type, with its distinct token `n`-gram hashes over the
    * normalised text (a doc shorter than `n` tokens is one whole-doc
    * gram, see [[graft.functions.HashKernels.shingleHashes]]) — one
    * `(__graft_id, __graft_g)` row per gram when `exploded`, else one
    * `(__graft_id, __graft_gs)` row per document. The tokens are
    * projected first and the exploded kernel is an expression, not a
    * projected column: Catalyst infers a `size(_) > 0` filter for an
    * exploded column and pushes it below the projection, which runs the
    * kernel twice per document. */
  private def gramRows(
      df: DataFrame, idCol: String, textCol: String, n: Int, exploded: Boolean): DataFrame = {
    val grams = graft.functions.HashFunctions.shingleHashesNative(col("__graft_toks"), n)
    df.select(col(idCol).as("__graft_id"),
        TextFunctions.normalizedTokens(col(textCol)).as("__graft_toks"))
      .select(col("__graft_id"),
        if (exploded) explode(grams).as("__graft_g") else grams.as("__graft_gs"))
  }

  /** Train/eval decontamination: remove from `train` every document
    * that shares at least `minHits` distinct token `n`-grams with the
    * `eval` corpus. This is the standard benchmark-leakage guard a
    * training-data pipeline runs before a corpus ships (cf. the 13-gram
    * overlap rule popularised by GPT-3's appendix; `n` is a parameter
    * because our synthetic docs are short).
    *
    * Scale design: the eval corpus (benchmarks) is tiny next to the
    * train corpus, so its distinct gram-hash set is broadcast into the
    * join — the 100 TB train side is touched by one narrow pass
    * (tokenise → hash n-grams → explode) plus one map-side hash join
    * and a per-doc partial-aggregated count. No train-side wide shuffle
    * of text or gram payloads; the only exchange carries (id, hits).
    * Docs shorter than `n` tokens contribute their whole text as a
    * single gram (see [[graft.functions.HashKernels.shingleHashes]]).
    *
    * BROADCAST CONTRACT: with `broadcastEval = true` (the default) the
    * eval corpus's distinct gram-hash set must fit in executor memory —
    * 8 bytes per distinct gram plus row overhead, so even a 10M-gram
    * benchmark suite is ~hundreds of MB. That assumption holds for
    * every real eval suite, but it is an assumption about EVAL, not
    * train: when the "eval" side is itself corpus-sized, pass
    * `broadcastEval = false` to use a shuffle hash join on the gram key
    * instead (train still re-flows only (id, gram) — never text).
    */
  def decontaminate(
      train: DataFrame,
      evalDf: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minHits: Int = 1,
      broadcastEval: Boolean = true): DataFrame = {
    require(n >= 1, s"decontaminate: n must be >= 1, got $n")
    require(minHits >= 1, s"decontaminate: minHits must be >= 1, got $minHits")
    val evalGrams = gramRows(evalDf, idCol, textCol, n, exploded = true)
      .select("__graft_g").distinct()
    val evalSide = if (broadcastEval) broadcast(evalGrams) else evalGrams
    val contaminated = gramRows(train, idCol, textCol, n, exploded = true)
      .join(evalSide, "__graft_g")
      .groupBy("__graft_id")
      .agg(count(lit(1)).as("__graft_hits"))
      .filter(col("__graft_hits") >= minHits)
      .select(col("__graft_id").as(idCol))
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Per-pair contamination AUDIT — the artifact [[decontaminate]]'s
    * anti-join discards: for every (train doc, eval doc) pair sharing
    * at least `minHits` distinct n-gram shingles, the shared-gram
    * count. A leakage investigation needs WHICH eval items leaked into
    * WHICH train docs (to fix the upstream source or rescore the
    * benchmark), not just the cleaned corpus. Gram construction is
    * identical to [[decontaminate]] (per-doc distinct shingle hashes;
    * sub-n docs contribute one whole-doc shingle). Equivalence with the
    * cleaner holds ONLY at `minHits = 1`: there, the set of train ids
    * in this report is exactly the set the cleaner drops. For
    * `minHits > 1` the grains diverge — [[decontaminate]] counts a
    * train doc's distinct grams against the UNION of all eval grams,
    * so a doc sharing one gram with each of several eval docs is
    * dropped by the cleaner yet produces no pair reaching `minHits`
    * here (doc-grain hits are >= the max pair-grain hits, not the
    * other way round). Note the union-grain hit count is NOT
    * reconstructible from pair rows either (a gram shared with two
    * eval docs appears in two pairs — summing double-counts it). To
    * audit a `minHits > 1` cleaning run: use [[decontaminate]] itself
    * for the doc-grain drop decision, and this report at
    * `minHits = 1` for the per-eval-item attribution of those drops.
    *
    * Scale shape: same as the exact cleaner — the eval side is small
    * by the op's nature and broadcasts; the train side explodes to
    * (id, gram) and joins map-side, then one exchange aggregates at
    * PAIR grain, whose cardinality is true-contamination-sized.
    * Output: (idCol = train id, eval_id, n_shared_grams), one row per
    * contaminated pair. */
  def contaminationReport(
      train: DataFrame,
      evalDf: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minHits: Int = 1,
      broadcastEval: Boolean = true): DataFrame = {
    require(n >= 1, s"contaminationReport: n must be >= 1, got $n")
    require(minHits >= 1, s"contaminationReport: minHits must be >= 1, got $minHits")
    val evalGrams = gramRows(evalDf, idCol, textCol, n, exploded = true)
      .select(col("__graft_id").as("eval_id"), col("__graft_g"))
    val evalSide = if (broadcastEval) broadcast(evalGrams) else evalGrams
    gramRows(train, idCol, textCol, n, exploded = true)
      .join(evalSide, "__graft_g")
      .groupBy(col("__graft_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .filter(col("n_shared_grams") >= minHits)
      .select(col("__graft_id").as(idCol), col("eval_id"), col("n_shared_grams"))
  }

  /** Embedding-grain (semantic) decontamination: drop train rows whose
    * embedding reaches cosine ≥ `threshold` with ANY eval embedding.
    * The n-gram cleaners ([[decontaminate]]) catch verbatim leakage;
    * PARAPHRASED eval items leak only at the embedding grain — the
    * semantic-decontamination step of modern benchmark hygiene (public
    * methodology, e.g. the SemDeDup/embedding-decon line of work).
    *
    * Scale shape: the eval set is benchmark-sized by the op's nature,
    * so it broadcasts; the plan is ONE BroadcastNestedLoopJoin
    * LeftAnti over the corpus — the corpus never shuffles, the
    * broadcast payload is only the eval vectors, and the anti join
    * short-circuits a row on its first contaminated hit. Cosine is the
    * native codegen'd kernel ([[graft.functions.HashFunctions
    * .cosineSimNative]]), not interpreted HOF math. For evals too big
    * to broadcast, band BOTH sides with seeded sign-LSH first (the
    * [[bloomDecontaminate]] analogy at the embedding grain) — that
    * variant trades the broadcast for one bucket-grain exchange and
    * inherits the LSH recall curve, so it is a different contract, not
    * a drop-in. */
  def decontaminateSemantic(
      train: DataFrame,
      evalDf: DataFrame,
      embCol: String,
      threshold: Double,
      evalEmbCol: String = ""): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"decontaminateSemantic: threshold must be in (0, 1], got $threshold")
    val ec = if (evalEmbCol.isEmpty) embCol else evalEmbCol
    val evalVecs = evalDf.select(col(ec).as("__graft_ev"))
    train.join(broadcast(evalVecs),
      graft.functions.HashFunctions.cosineSimNative(
        col(embCol), col("__graft_ev")) >= threshold,
      "left_anti")
  }

  /** Per-pair semantic contamination AUDIT — [[contaminationReport]]
    * at the embedding grain: one row per (train id, eval id) pair with
    * cosine ≥ `threshold`, with the similarity. Same broadcast
    * nested-loop shape as [[decontaminateSemantic]] (inner instead of
    * anti: the output IS the contaminated pair set, which is small by
    * the op's nature). */
  def semanticContaminationReport(
      train: DataFrame,
      evalDf: DataFrame,
      embCol: String,
      idCol: String,
      evalIdCol: String,
      threshold: Double,
      evalEmbCol: String = ""): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"semanticContaminationReport: threshold must be in (0, 1], got $threshold")
    val ec = if (evalEmbCol.isEmpty) embCol else evalEmbCol
    val evalSide = evalDf.select(
      col(evalIdCol).as("eval_id"), col(ec).as("__graft_ev"))
    val sim = graft.functions.HashFunctions.cosineSimNative(
      col(embCol), col("__graft_ev"))
    train.select(col(idCol), col(embCol))
      .join(broadcast(evalSide), sim >= threshold)
      .select(col(idCol), col("eval_id"), sim.as("sim"))
  }

  /** [[decontaminate]] with a bloom prefilter on the train side —
    * identical output, different (better) 100 TB shape.
    *
    * The plain pass explodes EVERY train document into (id, gram)
    * rows before the eval join: at ~50 grams/doc that is a 50× row
    * inflation of the corpus just to discover that ~99.9 % of it is
    * clean. Here the eval gram-hash set is first folded into a bloom
    * filter (distributed build over the distinct eval grams; only the
    * filter's bits reach the driver), and each train document answers
    * "any gram possibly in eval?" with ONE codegen'd in-row loop over
    * its gram array ([[graft.functions.BloomAnyContainExpr]] — early
    * exit, no explode, no join). Only the candidate fraction — true
    * contaminations plus the bloom's `fpp` of false positives — is
    * exploded and exactly verified against the broadcast eval grams,
    * so the result matches [[decontaminate]] bit-for-bit: a bloom has
    * no false negatives, and the exact join removes every false
    * positive.
    *
    * `minHits > 1` still only needs the single-probe prefilter: a doc
    * with `>= minHits` gram hits certainly has >= 1, so every doc the
    * exact filter would keep is in the candidate set.
    *
    * `fpp` is the PER-GRAM probe rate and it COMPOUNDS per document: a
    * clean doc with L grams survives the prefilter spuriously with
    * probability ≈ 1−(1−fpp)^L ≈ L·fpp. The classic sketch default of
    * 0.01 is therefore wrong for this op — at L≈50 it admits ~40 % of
    * the clean corpus (measured, SCALE.md r11 bloom rows) and the
    * prefilter stops filtering. The 1e-4 default prices a ~0.5 %
    * per-doc candidate rate at L≈50 for only ~2× the filter bits
    * (bits/key ∝ log(1/fpp)); budget fpp ≈ targetDocRate / L for other
    * corpora.
    *
    * Eager work: the eval side's limit-bounded count, the sizing
    * collect; past `maxDriverGrams` a fence of the eval grams (its rows
    * size the bloom) and the bloom build. Nothing is left cached.
    *
    * REGIME RULE — applied AUTOMATICALLY (r16, three rungs; output
    * identical on every route):
    *  1. eval rows ≤ budget / 1 KiB — the session's
    *     `spark.sql.autoBroadcastJoinThreshold` at 128 eight-byte grams
    *     per eval doc, 10,240 docs at the default 10 MiB — by one
    *     limit-bounded count (none under a budget of −1, which skips
    *     this rung): delegate to [[decontaminate]]'s single-job exact
    *     pass, whose eval gram set broadcasts — for a
    *     tiny eval side even this op's sizing collect is a whole extra
    *     job the exact pass doesn't need (measured r16 at sf0.1's
    *     100-doc eval: exact 0.48 s, collect+prefilter 0.59 s,
    *     collect+exact-over-local 0.92 s).
    *  2. eval grams ≤ `maxDriverGrams`: the sizing collect pays for
    *     the gram set, the bloom builds free from the keys, and the
    *     in-row early-exit prefilter spares the clean bulk of the
    *     corpus the explode before the exact verify.
    *  3. beyond `maxDriverGrams`: the fully distributed build — the
    *     eval side cannot land on the driver, the exact path would
    *     shuffle the full corpus-gram explosion, and the candidate cut
    *     applies to real exchange bytes (94× join-volume cut at ×8,
    *     SCALE.md r11).
    */
  def bloomDecontaminate(
      train: DataFrame,
      evalDf: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minHits: Int = 1,
      fpp: Double = 1e-4,
      maxDriverGrams: Int = 4 << 20): DataFrame = {
    require(n >= 1, s"bloomDecontaminate: n must be >= 1, got $n")
    require(minHits >= 1, s"bloomDecontaminate: minHits must be >= 1, got $minHits")
    require(maxDriverGrams >= 1,
      s"bloomDecontaminate: maxDriverGrams must be >= 1, got $maxDriverGrams")
    // rung 1: the exact pass, with no sizing collect (REGIME RULE)
    if (DataFrameOps.fitsBroadcastBudget(evalDf, rowBytes = 1024L))
      return decontaminate(train, evalDf, textCol, idCol, n, minHits)
    val evalGramsDist = gramRows(evalDf, idCol, textCol, n, exploded = true)
      .select("__graft_g").distinct()
    // The eval gram set is consumed three times (filter sizing, bloom
    // build, exact-verify join); by decontaminate's BROADCAST CONTRACT
    // it fits in executor memory, so the cheapest plan is ONE job that
    // lands the distinct hashes on the driver (8 B each — bounded by
    // `maxDriverGrams`, the CollectLimit pattern Ivf.trainSample uses),
    // then a driver-built bloom and a local-relation verify side. An
    // eval corpus that overflows the bound falls back to the fully
    // distributed build: fence the gram set once (the fence counts it),
    // then bloom + join from the fence.
    val spark = train.sparkSession
    val probeCollect = evalGramsDist.limit(maxDriverGrams + 1).collect()
    // evalGrams arrives broadcast-hinted on the small route; the
    // distributed route leaves the choice to AQE (a forced broadcast
    // of a deliberately non-broadcastable side is the one hazard the
    // fallback exists to avoid)
    def verify(candidates: DataFrame, evalGrams: DataFrame): DataFrame = {
      val contaminated = candidates
        .select(col("__graft_id"), explode(col("__graft_gs")).as("__graft_g"))
        .join(evalGrams, "__graft_g")
        .groupBy("__graft_id")
        .agg(count(lit(1)).as("__graft_hits"))
        .filter(col("__graft_hits") >= minHits)
        .select(col("__graft_id").as(idCol))
      train.join(contaminated, Seq(idCol), "left_anti")
    }
    val grams = gramRows(train, idCol, textCol, n, exploded = false)
    if (probeCollect.length <= maxDriverGrams) {
      // driver-collectable regime: the collect just paid for the gram
      // set, so the bloom is free to build from the keys and the
      // prefilter's in-row early-exit loop spares 99.9 % of the corpus
      // the explode — only candidates reach the exact verify against
      // the local gram relation
      val keys = probeCollect.map(_.getLong(0))
      val bloomBytes = graft.functions.BloomFunctions.buildBloomBytesFromKeys(keys, fpp)
      import scala.jdk.CollectionConverters._
      val local = spark.createDataFrame(
        keys.map(org.apache.spark.sql.Row(_)).toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__graft_g",
            org.apache.spark.sql.types.LongType, nullable = false))))
      val candidates = grams.filter(graft.functions.BloomFunctions
        .bloomAnyContain(col("__graft_gs"), bloomBytes))
      verify(candidates, broadcast(local))
    } else {
      // distributed regime: the eval grams cannot broadcast-build on
      // the driver, the exact path would shuffle the full corpus-gram
      // explosion, and the bloom's candidate cut applies to real
      // exchange bytes — build the filter distributed and prefilter
      // each doc with ONE codegen'd in-row any-hit loop (no explode)
      val evalGrams = Fence(evalGramsDist, "bloomDecontaminate")
      val bloomBytes = graft.functions.BloomFunctions
        .buildBloomBytes(evalGrams.df, "__graft_g", math.max(evalGrams.rows, 1L), fpp)
      val candidates = grams.filter(
        graft.functions.BloomFunctions.bloomAnyContain(col("__graft_gs"), bloomBytes))
      verify(candidates, evalGrams.df)
    }
  }

  /** Corpus-wide exact line deduplication (the C4 pattern): split each
    * document on `sep`, keep only the FIRST occurrence of every
    * distinct line — first by (`idCol`, position within the document) —
    * and reassemble documents from their surviving lines. Documents
    * whose every line loses disappear from the output.
    *
    * Returns (`idCol`, `textCol`) with the rebuilt text.
    *
    * Scale design: two shuffles. The first picks each fingerprint's
    * earliest occurrence with `min(struct(id, pos, line))` — a partial-
    * aggregating group-by, so duplicate lines collapse MAP-SIDE and the
    * exchange carries at most one row per distinct line rather than the
    * whole exploded corpus (a window rank over fingerprint, the naive
    * formulation, re-flows and sorts every occurrence; boilerplate
    * lines make that shuffle strictly larger). The line text rides
    * inside the min struct because it is functionally determined by its
    * fingerprint — no join back to the corpus is needed. The second
    * shuffle groups surviving lines by document id for reassembly.
    * Both keys (fingerprint, id) are high-cardinality and skew-free by
    * construction.
    */
  def dedupLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = df
      .select(col(idCol).as("__graft_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__graft_pos", "__graft_line")))
    // struct ordering is lexicographic by field: min = earliest (id, pos);
    // line never influences the order because (id, pos) is unique
    lines
      .withColumn("__graft_fp", md5(col("__graft_line")))
      .groupBy(col("__graft_fp"))
      .agg(min(struct(col("__graft_id"), col("__graft_pos"), col("__graft_line")))
        .as("__graft_w"))
      .select(col("__graft_w.__graft_id").as("__graft_id"),
        col("__graft_w.__graft_pos").as("__graft_pos"),
        col("__graft_w.__graft_line").as("__graft_line"))
      .groupBy(col("__graft_id"))
      .agg(concat_ws(sep,
        transform(
          array_sort(collect_list(struct(col("__graft_pos"), col("__graft_line")))),
          s => s.getField("__graft_line"))).as(textCol))
      .select(col("__graft_id").as(idCol), col(textCol))
  }

  /** Greedy near-duplicate removal: given candidate pairs
    * (id_a < id_b), drop every id that appears as the b-side of a pair
    * — keeps the lowest id of each pairwise match. One distinct + one
    * left_anti join (broadcast-eligible when the pair set is small
    * relative to the corpus). Chains of near-dups may keep fewer docs
    * than cluster-exact dedup; use [[duplicateClusters]] when cluster
    * identity matters.
    */
  def dropNearDuplicates(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String): DataFrame = {
    val losers = pairs.select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Connected components over near-duplicate pairs: assigns every id
    * in the pair graph the MINIMUM id reachable from it — the cluster
    * representative — via the alternating large-star/small-star
    * contraction of Kiveris et al., "Connected Components in MapReduce
    * and Beyond" (SoCC'14). Each round star-contracts the graph
    * towards component minima, so a chain of length n converges in
    * O(log n) rounds (O(log² n) proven worst case) — unlike plain
    * neighbour-min propagation, which needs O(diameter) rounds.
    * Throws `IllegalStateException` if `maxIter` rounds pass without
    * reaching the star-graph fixpoint, rather than silently returning
    * split clusters. Returns (id, cluster_id).
    *
    * Scale notes: each round is a constant number of shuffles on node
    * id over the EDGE set only (two longs per edge, monotonically
    * non-growing), not the whole corpus; lineage is cut per round by a
    * [[graft.core.Fence]], whose row count is the round's edge count.
    * The pair graph is usually TINY relative to the
    * corpus (it only holds near-duplicate ids), so — like a join
    * picking broadcast under a size threshold — graphs of at most
    * `localMaxEdges` distinct edges are union-found driver-side instead
    * of paying several Spark jobs per contraction round: ONE collect of
    * at most `localMaxEdges + 1` canonical edges decides the path and,
    * when it fits, is the whole input (a small graph costs the collect's
    * jobs and nothing else). Both paths produce identical labels.
    * Eager work: the probe collect; past `localMaxEdges` a fence of
    * the edges, then per round a fence and a set-difference job.
    */
  def duplicateClusters(
      pairs: DataFrame,
      maxIter: Int = 20,
      localMaxEdges: Long = 1000000L): DataFrame = {
    // canonical undirected edges (u > v), self-loops dropped
    val canon = pairs.select(
        greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("u"),
        least(col("id_a").cast("long"), col("id_b").cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val probe =
      canon.limit(math.min(math.max(localMaxEdges, 0L), Int.MaxValue - 1L).toInt + 1).collect()
    if (probe.length <= localMaxEdges) {
      // the labels cover exactly the edge endpoints, so they are the
      // answer; an RDD-backed frame (not a LocalRelation) keeps the
      // optimizer from folding a consumer's guards against it
      val spark = pairs.sparkSession
      return spark.createDataFrame(spark.sparkContext.parallelize(localComponents(
        probe.map(r => (r.getLong(0), r.getLong(1)))).toSeq)).toDF("id", "cluster_id")
    }
    val fenced = Fence(canon, "duplicateClusters")
    var edges = fenced.df
    val allIds = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id")))
      .distinct()
    var edgeCount = fenced.rows
    var converged = edgeCount == 0
    var iter = 0
    // both star contractions need "the minimum of each centre's closed
    // neighbourhood" NEXT TO every neighbour row — a whole-partition
    // window min delivers that in the ONE exchange that groups the
    // rows by centre. The groupBy+self-join form this replaces (r19
    // optimization round) paid a SECOND exchange of the neighbour rows
    // into the join and, worse, recomputed the aggregate subtree once
    // per join branch (the measured round plan carried THREE copies of
    // the centre-min aggregate and 7 shuffle exchanges; this shape has
    // 3 — see plans/r19/cc_round_{before,after}.txt).
    val wU = org.apache.spark.sql.expressions.Window.partitionBy("u")
    while (!converged && iter < maxIter) {
      // large-star: every node strictly larger than the centre attaches
      // to the minimum of the centre's neighbourhood (incl. the centre)
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val ls = sym.select(col("u"), col("v"), min(col("v")).over(wU).as("mn"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
      // (u > v) holds: v > u >= min. No intermediate distinct: a
      // duplicate cannot change the next min and the round's final
      // distinct dedups — one fewer edge-grain exchange per round
      // small-star: every neighbour ≤ the centre (and the centre) attaches
      // to the minimum of that closed neighbourhood — same single window
      // exchange, both output row kinds emitted in one pass
      val withM = ls.select(col("u"), col("v"), min(col("v")).over(wU).as("m"))
      val ss = Fence(withM.select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(), "duplicateClusters.round")
      // fixpoint = edge set unchanged (both sides are distinct sets, so
      // equal count + empty one-way difference ⇒ equality)
      converged = ss.rows == edgeCount &&
        ss.df.except(edges).limit(1).count() == 0
      edges = ss.df
      edgeCount = ss.rows
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters: no convergence after $maxIter rounds — " +
          "raise maxIter (rounds needed grow as log of the largest cluster)")
    // at the fixpoint the graph is a union of stars centred on each
    // component minimum: edges map non-root → root directly
    allIds.join(edges.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("cluster_id"))
  }

  /** Driver-side union-find with path compression: node → minimum id
    * of its component. */
  private def localComponents(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent(cur); parent(cur) = root; cur = next
      }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // union by min keeps the representative the component minimum
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    nodes.iterator.map(n => n -> find(n)).toMap
  }

  /** Retention policy over near-duplicate clusters: keep exactly ONE
    * row per connected component of `pairs` — the member maximising
    * `scoreCol` (ties broken by lowest id), so e.g. the longest or
    * highest-quality variant of a boilerplate family survives instead
    * of whichever id sorts first. Rows not in any pair keep
    * themselves. Cost beyond [[duplicateClusters]]: one join of the
    * (small) cluster map onto the corpus + one window over clusters.
    */
  def keepClusterRepresentatives(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    graft.core.DataFrameOps.requireNoReserved(df,
      Seq("__cc_id", "__cluster", "__rep_rn", "cluster_id"), "keepClusterRepresentatives")
    val clusters = duplicateClusters(pairs)
      .select(col("id").as("__cc_id"), col("cluster_id"))
    val withCluster = df
      .join(clusters, col(idCol).cast("long") === col("__cc_id"), "left")
      .withColumn("__cluster",
        coalesce(col("cluster_id"), col(idCol).cast("long")))
      .drop("__cc_id", "cluster_id")
    val w = Window.partitionBy("__cluster")
      .orderBy(col(scoreCol).desc, col(idCol))
    withCluster.withColumn("__rep_rn", row_number().over(w))
      .filter(col("__rep_rn") === 1)
      .drop("__rep_rn", "__cluster")
  }

  /** Exact all-pairs n-gram Jaccard over a (small) corpus — the
    * exactness baseline used to oracle-check the LSH-blocked variant.
    * Explicit cross product: only for corpora that fit a quadratic
    * comparison (e.g. a sampled slice); the scale path is
    * [[ngramJaccardNearDuplicates]].
    *
    * Each document's n-gram set is carried as SORTED DISTINCT 64-bit
    * hashes and compared with the allocation-free native merge-walk —
    * set Jaccard is identical to the string form up to (negligible)
    * 64-bit collisions, while each of the O(n²) comparisons touches
    * 8 bytes/gram with zero per-pair allocation instead of building
    * intersection/union string arrays.
    */
  def ngramJaccardAllPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // gram hashes materialised per document BEFORE the cross join —
    // computing them inside the pair comparison would redo the n-gram
    // build O(n²) times instead of O(n)
    val base = df.select(col(idCol).as("id"),
      TextFunctions.normalizeText(col(textCol)).as("norm"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("gh",
        graft.functions.HashFunctions.ngramHashesNative(col("norm"), n))
      .select(col("id"), col("gh"), size(col("gh")).as("sz"))
    // sound set-size prune ahead of the O(|A|+|B|) merge kernel:
    // |A∩B| <= min and |A∪B| >= max, so J >= t forces min >= t*max —
    // the O(1) size compare in the join condition skips the kernel for
    // every pair the bound rejects (exactness kept: the bound admits a
    // superset of qualifying pairs; 1e-9 slack covers the float product
    // at an exact boundary). r19 optimization round, guide §1.2 step 2.
    base.as("l").crossJoin(base.as("r"))
      .filter(col("l.id") < col("r.id") &&
        least(col("l.sz"), col("r.sz")).cast("double") >=
          lit(threshold) * greatest(col("l.sz"), col("r.sz")).cast("double") -
            lit(1e-9))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        graft.functions.HashFunctions.hashJaccard(col("l.gh"), col("r.gh"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Duplication-topology report: the size distribution of the
    * near-duplicate clusters `pairs` induces — (cluster_size,
    * n_clusters, n_docs), descending by size. The shape of this
    * histogram is the dedup planning signal: a fat tail of giant
    * clusters means boilerplate/mirror content (dedup recovers a lot
    * of budget, bucket caps matter); all-pairs-of-two means organic
    * near-dups. Only docs appearing in the pair graph count —
    * singletons are the corpus remainder. One exchange over the
    * cluster map (true-duplicate-sized), then cluster-count-sized
    * aggregation (measured: SCALE.md "r12-family exchange grains" —
    * wall flat across an 8× pair-count growth, corpus never in plan). */
  def clusterSizeProfile(pairs: DataFrame): DataFrame =
    duplicateClusters(pairs)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"))
      .orderBy(col("cluster_size").desc)

  /** Leakage-safe train/val/test split: every member of a
    * near-duplicate CLUSTER lands in the SAME split. Splitting rows
    * independently lets a training document's near-copy sit in the
    * test set and leak evaluation signal — the dedup-side failure mode
    * of naive splitting; here the split key is the cluster
    * REPRESENTATIVE (minimum reachable id over `pairs`, via
    * [[duplicateClusters]]), hashed through
    * [[graft.core.Sampling.deterministicSplit]]'s md5 rule. Rows
    * outside the pair graph split independently by their own id.
    * Deterministic across runs/engines/partitionings, and stable as
    * the corpus grows while cluster representatives persist.
    *
    * Scale shape: star-contraction clustering over the pair graph
    * (true-duplicate-sized; driver union-find short-circuit under
    * `duplicateClusters`' edge bound), ONE join of the cluster map
    * onto the corpus (AQE broadcasts it when small), then the narrow
    * md5 labeling — no corpus-grain state beyond the join (measured:
    * SCALE.md "r12-family exchange grains" leakage_split row — 8×
    * docs cost 0.89 → 1.43 s, sub-linear). */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      splits: Seq[(String, Double)],
      salt: String = "",
      splitCol: String = "split"): DataFrame = {
    val clusters = duplicateClusters(pairs)
      .select(col("id").as("__graft_cid"), col("cluster_id"))
    val keyed = df
      .join(clusters, col(idCol).cast("long") === col("__graft_cid"), "left")
      .withColumn("__graft_skey",
        coalesce(col("cluster_id"), col(idCol).cast("long")))
      .drop("__graft_cid", "cluster_id")
    graft.core.Sampling
      .deterministicSplit(keyed, "__graft_skey", splits, salt, splitCol)
      .drop("__graft_skey")
  }

  /** Candidate-pair QUALITY evaluation — precision/recall of any
    * blocked near-duplicate pair generator (MinHash/SimHash/window-
    * sharing/...) against the exact all-pairs n-gram Jaccard ground
    * truth on the same corpus: the dedup-side counterpart of
    * [[graft.similarity.Similarity.recallAtK]], for choosing banding /
    * threshold dials with MEASURED recall instead of the theoretical
    * S-curve. Candidate pairs are canonicalised (unordered, self-pairs
    * dropped, deduplicated) and restricted to ids present in `docs`.
    *
    * EVALUATION-ONLY: the ground truth is the quadratic
    * [[ngramJaccardAllPairs]] — run it on a deterministic sample
    * (e.g. [[graft.core.Sampling.deterministicSample]]), never the
    * full corpus; the candidate generator under test runs at scale,
    * only its evaluation is sampled. Empty sides are vacuous (1.0).
    * The sample contract is ENFORCED (the [[graft.similarity.Ivf]]
    * `maxTrainRows` pattern): `docs` exceeding `maxDocs` rows fails
    * fast with the remedy in the message — a silent O(n²) cross join
    * over a full corpus is never reachable.
    *
    * Output (one row): n_candidates, n_truth, n_hits,
    * precision = hits/candidates, recall = hits/truth (round 6). Eager
    * work: the size gate's bounded count, a fence each of the truth and
    * the candidates (their rows are two outputs), a count of the hits. */
  def pairQuality(
      docs: DataFrame,
      candidates: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxDocs: Int = 100000): DataFrame = {
    require(maxDocs >= 1, s"pairQuality: maxDocs must be >= 1, got $maxDocs")
    // one cheap count gate before the quadratic truth (limit+count keeps
    // the gate itself O(maxDocs): stop scanning once the bound is passed)
    val over = docs.select(col(idCol)).limit(maxDocs + 1).count()
    require(over <= maxDocs,
      s"pairQuality: docs has > $maxDocs rows — the exact all-pairs ground " +
        s"truth is quadratic and must run on a sample. Pass a deterministic " +
        s"sample (Sampling.deterministicSample) or raise maxDocs explicitly.")
    val truth = ngramJaccardAllPairs(docs, textCol, idCol, n, threshold)
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
    val ids = docs.select(col(idCol).cast("long").as("__pq_id")).distinct()
    val cand = candidates
      .select(least(col("id_a").cast("long"), col("id_b").cast("long")).as("id_a"),
        greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
      .join(ids.withColumnRenamed("__pq_id", "id_a"), Seq("id_a"), "left_semi")
      .join(ids.withColumnRenamed("__pq_id", "id_b"), Seq("id_b"), "left_semi")
    val spark = docs.sparkSession
    import spark.implicits._
    // evaluation frames are sample-sized by contract; fence them so the
    // hit count doesn't re-run the quadratic truth / the candidate
    // self-join, and read their sizes off the fences
    val truthP = Fence(truth, "pairQuality.truth")
    val candP = Fence(cand, "pairQuality.candidates")
    val nh = candP.df.join(truthP.df, Seq("id_a", "id_b"), "left_semi").count()
    val (nc, nt) = (candP.rows, truthP.rows)
    def ratio(num: Long, den: Long): Double =
      if (den == 0L) 1.0
      else BigDecimal(num.toDouble / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((nc, nt, nh, ratio(nh, nc), ratio(nh, nt)))
      .toDF("n_candidates", "n_truth", "n_hits", "precision", "recall")
  }
}
