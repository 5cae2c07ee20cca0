package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Fence

/** Similarity search over embedding columns (Array[Float]).
  *
  * Vector math is expressed with higher-order Catalyst functions
  * (zip_with + aggregate) — no UDF, stays codegen-adjacent, and works on
  * any array<numeric> column. Brute-force top-k is the exactness
  * baseline (broadcast the query set, one narrow pass over the corpus);
  * the LSH path (random-hyperplane signs) is the 100 TB route: signature
  * computation is narrow, the only shuffle keys on the bucket id.
  */
object Similarity {

  /** Session conf key for [[mmrRerank]]'s small-pool crossover: total
    * candidate rows at or below this run the greedy loop ON THE DRIVER
    * in one collect (the pool is bounded per query by contract; this
    * bounds the query count too) instead of paying ~2·k driver-issued
    * distributed jobs. Identical picks on both routes (spec-pinned —
    * the driver loop replicates the kernel cosine, the 6-dp HALF_UP
    * rounding grid, and the id tie-break bit-for-bit). 0 forces the
    * distributed path (the scale-measurement hook). */
  val MmrSmallPoolRowsConf = "graft.mmr.smallPoolRows"

  private[graft] val DefaultMmrSmallPoolRows = 2048L

  /** Dot product of two array<numeric> columns (computed in double). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Matryoshka truncation (MRL, Kusupati et al., NeurIPS 2022): keep
    * the first `dims` dimensions of `vecCol`, L2-renormalised — the
    * serving pattern where one nested-prefix embedding model feeds
    * multiple cost tiers, and a dims/D-width prefix scan approximates
    * the full-dim ranking (cosine over renormed prefixes EQUALS cosine
    * over raw prefixes, so ranking quality is purely the model's
    * prefix-nesting property). Zero-vector prefixes pass through
    * un-divided; vectors shorter than `dims` keep their full length
    * (slice semantics). Narrow projection, zero exchanges — at corpus
    * scale this is a dims/D scan-width cut before any ANN machinery,
    * composable with [[graft.similarity.Pq]] on the truncated space. */
  def truncateNormalize(
      df: org.apache.spark.sql.DataFrame,
      vecCol: String,
      dims: Int,
      outCol: String = ""): org.apache.spark.sql.DataFrame = {
    require(dims >= 1, s"truncateNormalize: dims must be >= 1, got $dims")
    val out = if (outCol.isEmpty) vecCol else outCol
    val sliced = slice(col(vecCol).cast("array<double>"), 1, dims)
    val n = sqrt(aggregate(sliced, lit(0.0), (acc, x) => acc + x * x))
    // HOF note: the norm sub-expression re-evaluates per element (the
    // Pq.l2normalize caveat) — dims × the slice-sum per row, fine at
    // MRL's small dims; for large-dims hot paths normalise in-kernel
    // like the PQ encoder does.
    df.withColumn(out,
      when(n === 0.0, sliced).otherwise(transform(sliced, x => x / n)))
  }

  /** Cosine similarity of two numeric-array columns — the native
    * single-pass kernel, FP-order-identical to `dot(a, b) / (norm(a) *
    * norm(b))`. array<float|double> inputs are read as they are; any
    * other numeric array is cast to array<double> first, as [[dot]]
    * casts each element. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.HashFunctions.cosineSimNative(a, b)

  /** Brute-force cosine top-k: for every query vector, the k most
    * similar corpus vectors. The query side is broadcast (it is small by
    * construction); the corpus is scanned once with no shuffle until
    * the final per-query top-k, which uses a window over the query id —
    * at scale replace with `groupBy(query).agg(max_by...)`-style partial
    * top-k, but window-over-few-queries is fine when queries ≪ corpus.
    *
    * Deterministic ordering: ties broken by corpus id.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      queryIdCol: String = "query_id"): DataFrame = {
    val q = queries.select(col(idCol).as(queryIdCol), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))
    val scored = c
      .crossJoin(broadcast(q))
      .filter(col(queryIdCol) =!= col("corpus_id"))
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(queryIdCol).orderBy(col("sim").desc, col("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("corpus_id"), col("sim"), col("rank"))
  }

  /** Maximal-marginal-relevance diversified re-ranking (Carbonell &
    * Goldstein, SIGIR'98) of a bounded candidate list: greedily pick
    * `k` results per query maximising
    * `λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s)` (empty-S term is 0, so
    * the first pick is the relevance argmax), ties by ascending
    * corpus id — the standard de-redundancy pass over a retrieval
    * top-N before it feeds RAG context, eval-set sampling, or
    * hard-negative pools dominated by near-copies of one result.
    *
    * Scale shape: ONE corpus-side join fetches the candidate ids'
    * vectors; every later frame is (queries × candidates) or smaller
    * — the candidate pairwise-cosine table is built once, id-grain,
    * and checkpointed, and each of the k greedy steps is a
    * broadcast-sized join + argmax window over it (iteration count =
    * k, never data-sized; the per-query candidate bound is enforced
    * loudly). All scores round to 6 dp BEFORE every argmax, so the
    * pick sequence is engine-portable (the q_mmr_rerank oracle
    * replays the greedy loop stage-by-stage in DuckDB).
    *
    * `candidates`: (`queryIdCol`, corpus_id, rel); `embeddings`:
    * (`idCol`, `vecCol`) covering every candidate id. Output:
    * (`queryIdCol`, corpus_id, rank 1..k, mmr_score) — queries with
    * fewer than k candidates return what they have. */
  def mmrRerank(
      candidates: DataFrame,
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      lambda: Double = 0.7,
      queryIdCol: String = "query_id",
      maxCandidatesPerQuery: Int = 1000): DataFrame = {
    require(k >= 1, s"mmrRerank: k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmrRerank: lambda must be in [0, 1], got $lambda")
    require(maxCandidatesPerQuery >= k,
      s"mmrRerank: maxCandidatesPerQuery ($maxCandidatesPerQuery) must be >= k ($k)")
    // rel and the pairwise cosines stay FULL-PRECISION through the
    // score arithmetic: rounding them to the 6-dp grid first would
    // make λ·rel land exactly on decimal rounding boundaries (7th
    // digit 5 whenever rel's 6th digit is 5), where Spark's
    // BigDecimal-string rounding and a binary-value rounding engine
    // disagree — only the FINAL scores round (boundary hits on
    // continuous values are probability ~0, the library convention)
    val cand = candidates.select(col(queryIdCol),
        col("corpus_id").cast("long").as("corpus_id"),
        col("rel").cast("double").as("rel"))
      .transform(Fence(_, "mmrRerank.candidates").df) // the bound check + every step
    // max/sum over an empty frame yield one null cell, not zero rows —
    // read them as Options so an empty candidate set returns an empty
    // result instead of an NPE. The same pass counts null ids/rels:
    // a null corpus_id can never equi-join its vector or pairwise
    // rows and a null rel sorts nulls-last through every argmax —
    // either would make a candidate silently unpickable (and the
    // driver route's primitive accessors would read them as 0), so
    // they fail loudly instead.
    val stats = cand.groupBy(queryIdCol)
      .agg(count(lit(1)).as("count"),
        count(col("corpus_id")).as("__ids"),
        count(col("rel")).as("__rels"))
      .agg(max("count"), sum("count"),
        sum(col("count") - col("__ids")), sum(col("count") - col("__rels")))
      .head()
    val worst = Option(stats.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val total = Option(stats.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val nullIds = Option(stats.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val nullRels = Option(stats.get(3)).map(_.asInstanceOf[Long]).getOrElse(0L)
    require(nullIds == 0L && nullRels == 0L,
      s"mmrRerank: candidates carry $nullIds null corpus_id and $nullRels " +
        "null rel values — null candidates are unpickable after rank 1 " +
        "(no vector / nulls-last scores); filter or fix them first")
    if (worst == 0L) {
      return cand.select(col(queryIdCol), col("corpus_id"),
        lit(1).as("rank"), lit(0.0).as("mmr_score")).limit(0)
    }
    require(worst <= maxCandidatesPerQuery,
      s"mmrRerank: a query has $worst candidates > maxCandidatesPerQuery " +
        s"($maxCandidatesPerQuery) — the pairwise-cosine table is quadratic " +
        "per query; re-rank a bounded top-N, not a corpus")
    // one corpus join for the candidate vectors, then candidate-grain
    // pairwise cosines (unordered pairs, looked up via least/greatest)
    val emb = embeddings.select(col(idCol).cast("long").as("corpus_id"),
      col(vecCol).as("__v"))
    // ADAPTIVE CROSSOVER (r16, the ksStatistic pattern — the bound
    // check above already paid the count): a tiny TOTAL pool runs the
    // greedy loop on the driver in two collects, where the distributed
    // path's ~2·k per-step jobs are pure overhead (bench-measured 1.78x
    // at a 6x10 pool); big pools — many queries, bounded candidates —
    // keep the fully distributed loop this operator exists for.
    val smallPool = candidates.sparkSession.conf
      .get(MmrSmallPoolRowsConf, DefaultMmrSmallPoolRows.toString).toLong
    if (smallPool > 0 && total <= smallPool)
      return mmrRerankLocal(cand, emb, k, lambda, queryIdCol)
    // a candidate id absent from `embeddings` has no pairwise cosine,
    // so later greedy steps could never score (and thus never pick) it
    // — that silent exclusion would skew the re-rank — and a DUPLICATE
    // embedding id is as loud a failure: which vector "wins" would be
    // engine/collect-order dependent (the driver route's toMap keeps
    // an arbitrary duplicate, this route's joins fan out and max(psim)
    // mixes them) — refuse both, instead of letting the two
    // spec-pinned-identical routes diverge (ADVICE r16). BOTH
    // preconditions come out of ONE probe job over one left join
    // (ADVICE r17: this was two back-to-back eager jobs): a candidate
    // id with m vectors contributes m joined rows, a missing id
    // contributes one null-marker row — so missing = null markers and
    // duplicates = matched rows minus matched ids.
    val probe = cand.select("corpus_id").distinct()
      .join(emb.select(col("corpus_id"), lit(1).as("__has")),
        Seq("corpus_id"), "left")
      .agg(count(lit(1)), countDistinct(col("corpus_id")),
        count(when(col("__has").isNull, 1))).head()
    val (nRows, nIds, nMissing) =
      (probe.getLong(0), probe.getLong(1), probe.getLong(2))
    require(nMissing == 0L,
      "mmrRerank: candidates reference corpus ids with no row in " +
        "`embeddings` — every candidate id must have a vector (missing " +
        "ids would be silently unpickable after rank 1)")
    require(nRows == nIds,
      s"mmrRerank: `embeddings` carries ${nRows - nIds} " +
        "duplicate rows for candidate corpus ids — each candidate must " +
        "have exactly ONE vector (which duplicate wins would be " +
        "nondeterministic); deduplicate embeddings first")
    val vecs = cand.select(col(queryIdCol), col("corpus_id"))
      .join(emb, Seq("corpus_id"))
    val pairSims = vecs.as("a")
      .join(vecs.as("b"),
        col(s"a.$queryIdCol") === col(s"b.$queryIdCol") &&
          col("a.corpus_id") < col("b.corpus_id"))
      .select(col(s"a.$queryIdCol").as(queryIdCol),
        col("a.corpus_id").as("id_lo"), col("b.corpus_id").as("id_hi"),
        cosine(col("a.__v"), col("b.__v")).as("psim"))
      .transform(Fence(_, "mmrRerank.pairs").df) // id-grain, read by every greedy step
    val wPick = Window.partitionBy(queryIdCol)
      .orderBy(col("__score").desc, col("corpus_id"))
    var selected = cand
      .withColumn("__score", round(lit(lambda) * col("rel"), 6))
      .withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(col(queryIdCol), col("corpus_id"), lit(1).as("rank"),
        col("__score").as("mmr_score"))
      .transform(Fence(_, "mmrRerank.step").df)
    for (step <- 2 to k) {
      val selIds = selected.select(col(queryIdCol), col("corpus_id").as("__sel"))
      val remaining = cand.join(selIds
          .withColumnRenamed("__sel", "corpus_id"),
          Seq(queryIdCol, "corpus_id"), "left_anti")
      // lookup each (remaining, selected) unordered pair's cosine —
      // equi-join on (query, least, greatest) so the pair table is
      // hash-probed, never filtered post-product
      val ps = pairSims.select(col(queryIdCol).as("__pq"),
        col("id_lo"), col("id_hi"), col("psim"))
      val scored = remaining.join(selIds, Seq(queryIdCol))
        .join(ps,
          col(queryIdCol) === col("__pq") &&
            least(col("corpus_id"), col("__sel")) === col("id_lo") &&
            greatest(col("corpus_id"), col("__sel")) === col("id_hi"))
        .groupBy(col(queryIdCol), col("corpus_id"), col("rel"))
        .agg(max(col("psim")).as("__ms"))
        .withColumn("__score",
          round(lit(lambda) * col("rel") - lit(1.0 - lambda) * col("__ms"), 6))
      val pick = scored
        .withColumn("__rn", row_number().over(wPick))
        .filter(col("__rn") === 1)
        .select(col(queryIdCol), col("corpus_id"), lit(step).as("rank"),
          col("__score").as("mmr_score"))
      selected = Fence(selected.unionByName(pick), "mmrRerank.step").df
    }
    selected
  }

  /** [[mmrRerank]]'s small-pool route: the SAME greedy sequence on the
    * driver. `cand` is the checkpointed (queryIdCol, corpus_id, rel)
    * pool (bounded by the crossover conf), `emb` the (corpus_id, __v)
    * projection. Replicates the distributed path bit-for-bit: the
    * kernel cosine's single left-to-right accumulation loop
    * ([[graft.functions.HashKernels.cosineSim]]), Spark `round`'s
    * decimal-text HALF_UP 6-dp grid, and the (score desc, corpus id
    * asc) argmax tie-break. */
  private def mmrRerankLocal(
      cand: DataFrame,
      emb: DataFrame,
      k: Int,
      lambda: Double,
      queryIdCol: String): DataFrame = {
    val spark = cand.sparkSession
    val candRows = cand.collect()
    val embRows = emb
      .join(cand.select("corpus_id").distinct(), Seq("corpus_id"), "left_semi")
      .collect()
    val vecs: Map[Long, Array[Double]] = embRows
      .map { r =>
        r.getLong(0) -> r.getSeq[Any](1).iterator
          .map(_.asInstanceOf[Number].doubleValue).toArray
      }.toMap
    // duplicate-id refusal mirroring the distributed route: toMap
    // would silently keep a collect-order-dependent duplicate while
    // the require below still passes — refuse loudly instead
    require(embRows.length == vecs.size,
      s"mmrRerank: `embeddings` carries ${embRows.length - vecs.size} " +
        "duplicate rows for candidate corpus ids — each candidate must " +
        "have exactly ONE vector (which duplicate wins would be " +
        "nondeterministic); deduplicate embeddings first")
    val distinctIds = candRows.map(_.getLong(1)).distinct.length
    require(vecs.size == distinctIds,
      "mmrRerank: candidates reference corpus ids with no row in " +
        "`embeddings` — every candidate id must have a vector (missing " +
        "ids would be silently unpickable after rank 1)")
    // the kernel's exact accumulation order (HashKernels.cosineSim)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // Spark round(double, 6): decimal-text BigDecimal + HALF_UP, with
    // NaN/Infinity passed through like the Round expression does
    def r6(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the argmax ordering Spark's window uses: score DESC with NaN
    // GREATEST (TotalOrdering — a zero vector's NaN cosine sorts
    // first, exactly as the distributed route's desc sort does),
    // ties by ascending corpus id
    val pickOrd = Ordering.Tuple2(
      Ordering.Double.TotalOrdering, Ordering.Long.reverse)
      .on((p: (Long, Double)) => (p._2, p._1))
    val out = candRows.groupBy(_.get(0)).toSeq.flatMap { case (qid, rows) =>
      var remaining = rows.map(r => (r.getLong(1), r.getDouble(2))).toSeq
      var selected = Vector.empty[org.apache.spark.sql.Row]
      var selIds = Vector.empty[Long]
      for (step <- 1 to math.min(k, remaining.length)) {
        val best = remaining.map { case (cid, rel) =>
          val score =
            if (selIds.isEmpty) r6(lambda * rel)
            else {
              // TotalOrdering max: NaN beats every double, as Spark's
              // max aggregate does
              val ms = selIds.iterator.map(s => cos(vecs(cid), vecs(s)))
                .max(Ordering.Double.TotalOrdering)
              r6(lambda * rel - (1.0 - lambda) * ms)
            }
          (cid, score)
        }.max(pickOrd)
        selected :+= org.apache.spark.sql.Row(qid, best._1, step, best._2)
        selIds :+= best._1
        remaining = remaining.filterNot(_._1 == best._1)
      }
      selected
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.asJava, org.apache.spark.sql.types.StructType(Seq(
      cand.schema(queryIdCol),
      org.apache.spark.sql.types.StructField("corpus_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("mmr_score",
        org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** Recall@k of an approximate top-k result against an exact one —
    * the evaluation operator for the ANN family ([[Ivf]], [[Pq]],
    * [[lshCosineCandidates]]): per query, the fraction of the EXACT
    * top-k corpus ids the approximate result also returned within its
    * own top k. Both inputs carry (`queryIdCol`, `corpus_id`, `rank`)
    * — the shape every top-k operator here emits. Output is one row:
    * (n_queries, mean_recall). Queries absent from `approx` (an ANN
    * path that returned nothing) count as recall 0, not as missing —
    * dropping them would inflate the mean exactly when the index is
    * worst. Shape: two rank filters, a semi join on (query, id), two
    * narrow aggregations — no full-width payload moves. */
  def recallAtK(
      approx: DataFrame,
      exact: DataFrame,
      k: Int,
      queryIdCol: String = "query_id"): DataFrame = {
    require(k >= 1, s"recallAtK: k must be >= 1, got $k")
    val a = approx.filter(col("rank") <= k).select(col(queryIdCol), col("corpus_id"))
    val e = exact.filter(col("rank") <= k).select(col(queryIdCol), col("corpus_id"))
    val hits = e.join(a, Seq(queryIdCol, "corpus_id"), "left_semi")
      .groupBy(queryIdCol).agg(count(lit(1)).as("n_hit"))
    e.groupBy(queryIdCol).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq(queryIdCol), "left")
      .select(col(queryIdCol),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact")).as("recall"))
      .agg(count(lit(1)).as("n_queries"), round(avg("recall"), 6).as("mean_recall"))
  }

  /** Random-hyperplane LSH bucket id: sign bits of dots with
    * `numPlanes` pseudo-random hyperplanes. Hyperplane components are
    * derived deterministically from xxhash64(plane, dim) mapped to
    * [-1, 1] — data-independent, reproducible, and computed inline (no
    * side table to ship to executors).
    */
  def hyperplaneBucket(vec: Column, dim: Int, numPlanes: Int = 16): Column =
    graft.functions.HashFunctions.hyperplaneBucketNative(vec, dim, numPlanes, seed = 0)

  /** ANN near-duplicate / neighbor candidates via hyperplane LSH:
    * vectors sharing a bucket are scored with exact cosine. Multi-probe
    * via `numTables` independent sign-LSH tables (seeded by table id) to
    * raise recall; one shuffle per table on the bucket key, unioned.
    *
    * Shuffle-payload discipline: the bucket exchange and self-join carry
    * only (id, table, bucket); the full vectors are re-joined by id onto
    * the (small) candidate pair set for exact scoring, so embedding
    * width never multiplies through the LSH shuffle.
    */
  def lshCosineCandidates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      numPlanes: Int = 12,
      numTables: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val tables = (0 until numTables).map { t =>
      base.select(col("id"), lit(t).as("table"),
        graft.functions.HashFunctions.hyperplaneBucketNative(col("vec"), dim, numPlanes, seed = t)
          .as("bucket"))
    }
    val banded = tables.reduce(_ union _)
    val pairs = banded.as("l")
      .join(banded.as("r"),
        col("l.table") === col("r.table") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(col("vec_a"), col("vec_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Embedding-space duplicate clusters: every row labelled with the
    * minimum id reachable through pairs of cosine ≥ `threshold`
    * (singletons label themselves). `useLsh = false` scores ALL pairs
    * exactly — the oracle-checkable baseline, quadratic, for bounded
    * corpora; `useLsh = true` (the 100 TB path) generates candidates
    * via [[lshCosineCandidates]] first, so recall follows the
    * sign-LSH S-curve while precision stays exact (candidates are
    * re-scored with true cosine). Returns (idCol, cluster_id).
    */
  def semanticDupClusters(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      useLsh: Boolean = false,
      dim: Int = 64): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val pairs =
      if (useLsh)
        lshCosineCandidates(base, "id", "vec", dim, threshold = threshold)
          .select("id_a", "id_b")
      else
        base.as("l").crossJoin(base.as("r"))
          .filter(col("l.id") < col("r.id"))
          .withColumn("sim", cosine(col("l.vec"), col("r.vec")))
          .filter(col("sim") >= threshold)
          .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    val clusters = graft.dedup.Dedup.duplicateClusters(pairs)
    base.select("id").join(clusters, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** One (similarity, corpus id) candidate. */
  case class Scored(sim: Double, corpusId: Long)

  /** Bounded-heap top-k buffer, kept sorted best-first. */
  case class TopKBuffer(items: Seq[Scored])

  /** Typed Aggregator keeping the k best (sim desc, corpusId asc)
    * candidates. Runs as a real partial aggregate: each map task keeps
    * at most k rows per query, so the shuffle carries k·tasks rows per
    * query instead of the full scored corpus — the property that keeps
    * per-query top-k viable when queries are few and the corpus is
    * 100 TB. (A window over the query id would shuffle EVERY scored row
    * into one partition per query.)
    */
  class TopKAggregator(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Scored, TopKBuffer, Seq[Scored]] {
    private val ord: Ordering[Scored] =
      Ordering.by((s: Scored) => (-s.sim, s.corpusId))
    override def zero: TopKBuffer = TopKBuffer(Vector.empty)
    override def reduce(b: TopKBuffer, a: Scored): TopKBuffer =
      TopKBuffer(((b.items :+ a).sorted(ord)).take(k))
    override def merge(b1: TopKBuffer, b2: TopKBuffer): TopKBuffer =
      TopKBuffer((b1.items ++ b2.items).sorted(ord).take(k))
    override def finish(r: TopKBuffer): Seq[Scored] = r.items
    override def bufferEncoder: org.apache.spark.sql.Encoder[TopKBuffer] =
      org.apache.spark.sql.Encoders.product[TopKBuffer]
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Scale path for brute-force top-k: same output as
    * [[bruteForceTopK]] (sim desc, ties by corpus id) but aggregated
    * with the bounded partial [[TopKAggregator]] instead of a window —
    * no single-partition-per-query shuffle.
    */
  def bruteForceTopKScalable(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      queryIdCol: String = "query_id"): DataFrame = {
    val q = queries.select(col(idCol).as(queryIdCol), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))
    val scored = c
      .crossJoin(broadcast(q))
      .filter(col(queryIdCol) =!= col("corpus_id"))
      .select(col(queryIdCol),
        cosine(col("q_vec"), col("c_vec")).as("sim"),
        col("corpus_id").cast("long").as("corpusId"))
    val topk = udaf(new TopKAggregator(k))
    scored
      .groupBy(queryIdCol)
      .agg(topk(col("sim"), col("corpusId")).as("top"))
      .select(col(queryIdCol), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(queryIdCol), col("t.corpusId").as("corpus_id"),
        col("t.sim").as("sim"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Hard-negative mining for embedding-model training: per query the
    * `k` MOST similar corpus vectors BELOW a near-duplicate ceiling —
    * "close but not the same", the negatives that actually teach a
    * contrastive model (public methodology: hard negatives in DPR /
    * sentence-transformers training). Identical ids and pairs with
    * cosine ≥ `dupCeiling` are excluded BEFORE the bounded partial
    * top-k aggregate, so the dup exclusion costs nothing extra and the
    * shuffle stays k·tasks rows per query (the
    * [[bruteForceTopKScalable]] shape). For corpus-scale mining,
    * candidate-generate with [[lshCosineCandidates]] / the IVF path
    * first and exact-rank the candidates with this. */
  def hardNegativesTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dupCeiling: Double = 0.95,
      queryIdCol: String = "query_id"): DataFrame = {
    require(k >= 1, s"hardNegativesTopK: k must be >= 1, got $k")
    require(dupCeiling > -1.0 && dupCeiling <= 1.0,
      s"hardNegativesTopK: dupCeiling must be in (-1, 1], got $dupCeiling")
    val q = queries.select(col(idCol).as(queryIdCol), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))
    val scored = c
      .crossJoin(broadcast(q))
      .filter(col(queryIdCol) =!= col("corpus_id"))
      .select(col(queryIdCol),
        cosine(col("q_vec"), col("c_vec")).as("sim"),
        col("corpus_id").cast("long").as("corpusId"))
      .filter(col("sim") < dupCeiling)
    val topk = udaf(new TopKAggregator(k))
    scored
      .groupBy(queryIdCol)
      .agg(topk(col("sim"), col("corpusId")).as("top"))
      .select(col(queryIdCol), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(queryIdCol), col("t.corpusId").as("corpus_id"),
        col("t.sim").as("sim"), (col("pos") + 1).cast("int").as("rank"))
  }
}
