package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Fence

/** Product quantization (PQ) for embedding similarity at corpus scales
  * where raw vectors are too wide to scan — the compression half of
  * the FAISS IVF-PQ recipe ([[Ivf]] is the routing half; compose them
  * by PQ-encoding each IVF cell's members).
  *
  * The vector space is split into `m` contiguous subspaces of
  * `dim / m` dimensions; each subspace gets its own `k`-entry codebook
  * (k ≤ 256 keeps codes one byte per subspace), trained DRIVER-side
  * with the same seeded Lloyd iteration and bounded-collect contract
  * as the IVF coarse quantizer ([[Ivf.buildIndex]] scaladoc: the
  * codebook trains on a capped sample even at 100 TB; distributing the
  * tiny k-means buys nothing). Encoding is MAP-side — a narrow
  * projection, no shuffle — and shrinks a 64-dim float vector (256 B)
  * to `m` bytes (8 B at m=8): a 32× scan-width reduction, which is the
  * entire point at 100 TB.
  *
  * Search uses asymmetric distance computation (ADC, Jégou et al.,
  * "Product quantization for nearest neighbor search", TPAMI 2011):
  * per query ONE m×k lookup table of subspace inner products is
  * computed against the codebooks, and scoring a corpus code is `m`
  * table lookups instead of `dim` multiplies — 8 adds vs 64 FMAs at
  * the default shape, on 8 B of input instead of 256 B. The query side
  * (with LUTs) is broadcast; the corpus side is scanned in place — no
  * corpus shuffle. Per-query top-k uses the bounded partial
  * [[Similarity.TopKAggregator]], so the only wide exchange carries
  * ≤ k rows per query per partition.
  *
  * All vectors are L2-normalised first, so ADC inner product
  * approximates cosine and ranking matches the [[Similarity]] family's
  * contract. Scores are approximate by construction (quantization
  * error); recall is an empirical dial (m, k), pinned by the planted
  * invariants in the q_pq_topk oracle, not a guarantee.
  */
object Pq {

  /** L2-normalise an array<double> column (zero vectors pass through
    * unchanged rather than dividing by zero). Interpreted-HOF note:
    * the norm sub-expression re-evaluates per element, so keep this
    * OFF hot paths — the corpus-side encode normalises in-kernel
    * ([[graft.functions.HashKernels.pqEncodeCodes]]); this is for the
    * small broadcast query side and diagnostics. */
  private[similarity] def l2normalize(v: Column): Column = {
    val norm = sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))
    when(norm === 0.0, v).otherwise(transform(v, x => x / norm))
  }

  /** Train the m per-subspace codebooks driver-side on a bounded,
    * deterministic sample (same sampling contract as
    * [[Ivf.trainSample]] — an absolute row cap, hash-ordered so the
    * kept rows are an unbiased fixed sample). Returns
    * codebooks(s)(c) = centroid c of subspace s, each of length
    * dim / m. Vectors are L2-normalised before training so the
    * codebooks live in the same space the encoder and ADC use. */
  def trainCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int = 256,
      maxIter: Int = 10,
      seed: Long = 42L,
      maxTrainRows: Int = 100000): Array[Array[Array[Double]]] = {
    require(m >= 1, s"trainCodebooks: m must be >= 1, got $m")
    require(k >= 1 && k <= 256,
      s"trainCodebooks: k must be in [1, 256] (one byte per code), got $k")
    // RAW vectors collected, normalised driver-side: a column-level
    // normalize would run the interpreted per-element HOF over the
    // whole corpus projection (measured: it dominated training), while
    // the sample is bounded by maxTrainRows anyway
    val base = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    trainCodebooksFromSample(Ivf.trainSample(base, maxTrainRows), m, k, maxIter, seed)
  }

  /** [[trainCodebooks]] continuation from an already-collected sample
    * (shared with the IVF router by [[ivfPqTopK]] — one sampling job,
    * two quantizers). The input arrays are cloned before the in-place
    * normalisation, so a caller may reuse the raw sample. */
  private[similarity] def trainCodebooksFromSample(
      raw: Array[Array[Double]],
      m: Int,
      k: Int,
      maxIter: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    require(m >= 1, s"trainCodebooks: m must be >= 1, got $m")
    require(k >= 1 && k <= 256,
      s"trainCodebooks: k must be in [1, 256] (one byte per code), got $k")
    require(raw.nonEmpty, "trainCodebooks: empty corpus")
    val sample = raw.map(_.clone())
    sample.foreach { v =>
      var ss = 0.0
      var i = 0
      while (i < v.length) { ss += v(i) * v(i); i += 1 }
      if (ss != 0.0) {
        val inv = 1.0 / math.sqrt(ss)
        i = 0
        while (i < v.length) { v(i) *= inv; i += 1 }
      }
    }
    val dim = sample.head.length
    require(dim % m == 0,
      s"trainCodebooks: dim $dim not divisible into m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      // distinct seed per subspace: identical sub-distributions must
      // not force identical centroid draws
      Ivf.localLloyd(sub, k, maxIter, seed + s)
    }
  }

  /** The nested-literal column for a trained codebook set: ONE Literal
    * (no per-centroid expression tree), so plan size stays constant in
    * m × k and the encode/LUT projections are ordinary HOF evals. */
  private def codebookLit(codebooks: Array[Array[Array[Double]]]): Column =
    typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** PQ-encode a corpus: adds `code` (array<int>, length m, values in
    * [0, k)) — element s is the index of subspace s's nearest codebook
    * entry by L2 (vector L2-normalised in-kernel). Narrow map-side
    * projection through the codegen'd
    * [[graft.functions.HashFunctions.pqEncodeNative]] kernel — the HOF
    * formulation ran m × k interpreted aggregate() lambdas per row and
    * measured 17.9× SLOWER than the exact scan PQ replaces (SCALE.md
    * r11, "ANN recall + compression" / q_ivf_pq_topk adjudication
    * row); the kernel is one static call inside whole-stage codegen. The output
    * (id, code) is the scan-side representation ADC search reads, `m`
    * bytes of payload per vector. float32 and float64 vector columns
    * are both read natively by the kernel — no cast pass over the
    * corpus. */
  def encode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col(idCol).as("id"),
      graft.functions.HashFunctions.pqEncodeNative(
        col(vecCol), codebooks).as("code"))

  /** Reconstruction of an encoded vector (concatenated codebook
    * entries) — the decoder side of the quantizer, used to measure
    * quantization error (mean cosine between a vector and its
    * reconstruction is the quality dial for choosing m and k). */
  def reconstruct(codeCol: Column, codebooks: Array[Array[Array[Double]]]): Column =
    flatten(zip_with(codeCol, codebookLit(codebooks),
      (c, cbS) => element_at(cbS, c + 1)))

  /** ADC top-k: approximate cosine top-k of each query against a
    * PQ-encoded corpus (`encoded` from [[encode]]: columns id, code).
    * Output: (query_id, corpus_id, score, rank) — `score` is the ADC
    * inner-product approximation of cosine, rank 1 = best.
    *
    * Scale shape: the per-query LUT (m × k doubles) is computed on the
    * query side, which is then BROADCAST — the corpus scan stays in
    * place, scoring each code with m element_at lookups, and the
    * bounded TopK partial aggregation means the one shuffle carries
    * ≤ k rows per query per partition, never corpus rows. */
  def adcTopK(
      encoded: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      queryIdCol: String = "query_id"): DataFrame = {
    // fenced: without the checkpoint the optimizer collapses this
    // projection into the scoring join and re-evaluates the m×k×dsub
    // LUT per CORPUS row instead of per query (measured: a sub-second
    // search became 9.7 s at 2000×10 rows — SCALE.md r11 adjudication
    // row)
    val withLut = queries
      .select(col(idCol).as(queryIdCol),
        graft.functions.HashFunctions.pqLutNative(
          col(vecCol), codebooks).as("__lut"))
      .transform(Fence(_, "adcTopK.lut").df)
    val scored = broadcast(withLut).crossJoin(encoded)
      .filter(col(queryIdCol) =!= col("id"))
      .select(col(queryIdCol),
        graft.functions.HashFunctions.pqAdcScoreNative(
          col("code"), col("__lut")).as("score"),
        col("id").cast("long").as("corpusId"))
    val topk = udaf(new Similarity.TopKAggregator(k))
    scored.groupBy(queryIdCol)
      .agg(topk(col("score"), col("corpusId")).as("top"))
      .select(col(queryIdCol), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(queryIdCol), col("t.corpusId").as("corpus_id"),
        round(col("t.sim"), 6).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** IVF-PQ: coarse routing composed with code compression — the
    * 100 TB ANN shape. [[Ivf.buildIndex]] assigns every corpus vector
    * to a cell; each vector is PQ-encoded (RAW vectors, not residuals
    * — the ScaNN-style variant: one shared codebook, cells only route;
    * FAISS's residual refinement is a possible extension, traded here
    * for one codebook and one encode pass); a query ADC-scores only
    * its `nprobe` closest cells' codes. Scanned fraction ≈
    * nprobe/nlist of the corpus at `m` bytes per vector — BOTH dials
    * compound (the full-scan PQ path reads 100% of codes;
    * full-vector IVF reads 256 B per probed row).
    *
    * Scale shape: the probe table (query × nprobe cells, each probe
    * row carrying the query's m×k-double LUT) is broadcast; the
    * encoded corpus is hash-joined on `cell`, so the one wide
    * exchange keys on cell id over m-byte codes, then the bounded
    * TopK partial aggregation reduces to ≤ k rows per query per
    * partition. Exact under `nprobe = nlist` + lossless codebooks
    * (pinned by the spec against brute force). */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 64,
      nprobe: Int = 8,
      m: Int = 8,
      nCentroids: Int = 256,
      maxIter: Int = 10,
      seed: Long = 42L,
      trainFraction: Double = 1.0,
      maxTrainRows: Int = 100000,
      queryIdCol: String = "query_id"): DataFrame = {
    val (centers, codebooks) = trainIvfPq(corpus, idCol, vecCol, nlist, m,
      nCentroids, maxIter, seed, trainFraction, maxTrainRows)
    ivfPqTopKFromArtifacts(corpus, queries, idCol, vecCol, k, centers,
      codebooks, nprobe, queryIdCol)
  }

  /** Train the IVF-PQ artifact pair — router centroids + PQ codebooks —
    * WITHOUT searching: the index-build half of [[ivfPqTopK]], exposed
    * so a pipeline can train once, persist via [[AnnIndex.save]], and
    * serve every later run through [[ivfPqTopKFromArtifacts]]. ONE
    * bounded sampling job (TakeOrdered + collect) feeds BOTH quantizers
    * — two separate trainSample calls measured as the bulk of the
    * wrapped-vs-raw gap at toy scale, each re-scanning the corpus for a
    * bounded slice. */
  def trainIvfPq(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 64,
      m: Int = 8,
      nCentroids: Int = 256,
      maxIter: Int = 10,
      seed: Long = 42L,
      trainFraction: Double = 1.0,
      maxTrainRows: Int = 100000): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    require(trainFraction > 0 && trainFraction <= 1.0,
      s"trainIvfPq: trainFraction must be in (0, 1], got $trainFraction")
    val base = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val sampled =
      if (trainFraction >= 1.0) base
      else base.sample(withReplacement = false, trainFraction, seed)
    val trainRows = Ivf.trainSample(sampled, maxTrainRows)
    val centers = Ivf.localLloyd(trainRows, nlist, maxIter, seed)
    val codebooks = trainCodebooksFromSample(trainRows, m, nCentroids, maxIter, seed)
    (centers, codebooks)
  }

  /** [[ivfPqTopK]] from PRE-TRAINED artifacts (e.g. loaded via
    * [[AnnIndex]]): identical search pipeline, ZERO training jobs — no
    * sampling scan, no driver k-means. The production shape: train
    * once, persist, and every subsequent run (or a different engine
    * reading the same parquet artifacts) reuses the index. Under a
    * fixed seed the loaded artifacts reproduce the freshly-trained
    * search bit-for-bit (doubles round-trip parquet exactly; pinned by
    * AnnIndexSpec and q_ann_persist). */
  def ivfPqTopKFromArtifacts(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centers: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nprobe: Int = 8,
      queryIdCol: String = "query_id"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // same map-side argmin assignment as Ivf.buildIndexFromSample
    val assignments = base.withColumn("cell", element_at(
      graft.functions.HashFunctions.pqEncodeNative(
        col("vec"), Array(centers), normalize = false), 1))
    val centroids = centers.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
    ivfPqSearch(assignments, centroids, queries, idCol, vecCol, codebooks,
      k, nprobe, queryIdCol)
  }

  /** The shared IVF-PQ search tail: encode in place off `assignments`
    * (id, vec, cell) — no second corpus scan — route each query to its
    * `nprobe` cells, ADC-score only those cells' codes. */
  private def ivfPqSearch(
      assignments: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nprobe: Int,
      queryIdCol: String): DataFrame = {
    // assignments already carries (id, vec, cell): encode in place, no
    // second corpus scan or join
    val encoded = assignments.select(col("id"), col("cell"),
      graft.functions.HashFunctions.pqEncodeNative(
        col("vec"), codebooks).as("code"))
    ivfPqSearchEncoded(encoded, centroids, queries, idCol, vecCol,
      codebooks, k, nprobe, queryIdCol)
  }

  /** The search tail from an ALREADY-ENCODED corpus (id, cell, code) —
    * the serve path of a materialised index ([[AnnIndex
    * .saveEncodedCorpus]]): no vector scan at all, only the m-byte
    * codes move. With `pruneCells` the distinct probed cells (≤
    * queries × nprobe, and ≤ nlist — driver-bounded by construction)
    * are collected off the checkpointed probe table and pushed as a
    * static `cell IN (...)` scan filter, so a cell-partitioned parquet
    * index reads ONLY the probed cells' files (DPP declines here: the
    * broadcast side carries no selective predicate, so the static
    * push is the reliable pruning path — pinned in AnnIndexSpec). */
  private[similarity] def ivfPqSearchEncoded(
      encoded: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nprobe: Int,
      queryIdCol: String,
      pruneCells: Boolean = false): DataFrame = {
    val q = queries.select(col(idCol).as(queryIdCol),
      col(vecCol).cast("array<double>").as("q_vec"))
    // nprobe cells per query by centroid cosine (the Ivf.search
    // routing), each probe row carrying the query's LUT; fenced for
    // the same collapse reason as adcTopK. LUT duplication across a
    // query's nprobe rows is bounded: queries are small by
    // construction and the LUT is m×k doubles.
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("c_sim", Similarity.cosine(col("q_vec"), col("centroid")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(queryIdCol).orderBy(col("c_sim").desc, col("cell"))))
      .filter(col("rnk") <= nprobe)
      .select(col(queryIdCol), col("cell"),
        graft.functions.HashFunctions.pqLutNative(col("q_vec"), codebooks)
          .as("__lut"))
      .transform(Fence(_, "ivfPqSearch.probes").df)
    val toScan =
      if (!pruneCells) encoded
      else {
        val cells = probes.select(col("cell")).distinct()
          .collect().map(r => Int.box(r.getInt(0))).toSeq
        encoded.filter(col("cell").isin(cells: _*))
      }
    val scored = broadcast(probes).join(toScan, Seq("cell"))
      .filter(col(queryIdCol) =!= col("id"))
      .select(col(queryIdCol),
        graft.functions.HashFunctions.pqAdcScoreNative(
          col("code"), col("__lut")).as("score"),
        col("id").cast("long").as("corpusId"))
    val topk = udaf(new Similarity.TopKAggregator(k))
    scored.groupBy(queryIdCol)
      .agg(topk(col("score"), col("corpusId")).as("top"))
      .select(col(queryIdCol), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(queryIdCol), col("t.corpusId").as("corpus_id"),
        round(col("t.sim"), 6).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Convenience: train + encode + search in one call. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      nCentroids: Int = 256,
      maxIter: Int = 10,
      seed: Long = 42L,
      maxTrainRows: Int = 100000): DataFrame = {
    val codebooks = trainCodebooks(corpus, idCol, vecCol, m, nCentroids,
      maxIter, seed, maxTrainRows)
    adcTopK(encode(corpus, idCol, vecCol, codebooks), queries,
      idCol, vecCol, codebooks, k)
  }
}
