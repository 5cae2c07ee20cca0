package graft.text

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class RelevanceSpec extends SparkTestBase {
  import spark.implicits._

  // 4 docs, tiny controlled vocabulary so every expected value is
  // hand-computable
  private def docs = Seq(
    (1L, "spark joins data"),
    (2L, "spark spark filters"),
    (3L, "data data data joins"),
    (4L, "filters")
  ).toDF("doc_id", "text")

  test("docTermFrequencies counts per (doc, word)") {
    val tf = Relevance.docTermFrequencies(docs, "doc_id", "text")
    val m = tf.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m((1L, "spark")) == 1L)
    assert(m((2L, "spark")) == 2L)
    assert(m((3L, "data")) == 3L)
    assert(m.size == 8)
  }

  test("tfIdf matches hand-computed ln(N/df) weights") {
    val out = Relevance.tfIdf(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(3), r.getDouble(4))).toMap
    // N=4; df(spark)=2, df(data)=2, df(joins)=2, df(filters)=2
    val w = math.log(4.0 / 2.0)
    assert(out((2L, "spark"))._1 == 2L)
    assert(math.abs(out((2L, "spark"))._2 - BigDecimal(2 * w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(math.abs(out((3L, "data"))._2 - BigDecimal(3 * w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("tfIdf minDf prunes rare terms") {
    val extra = Seq((5L, "zzz_unique")).toDF("doc_id", "text")
    val out = Relevance.tfIdf(docs.union(extra), "doc_id", "text", minDf = 2L)
    assert(!out.select("word").as[String].collect().contains("zzz_unique"))
  }

  test("tfIdf and invertedIndex reject inputs carrying their reserved columns") {
    // a caller column named like the internal N / df-cap column would
    // otherwise be silently shadowed or collide in the cross join
    val clash = docs.withColumn("__graft_n_docs", lit(1.0))
    assertThrows[IllegalArgumentException](Relevance.tfIdf(clash, "doc_id", "text"))
    val clashMax = docs.withColumn("__graft_max_df", lit(1L))
    assertThrows[IllegalArgumentException](
      Relevance.invertedIndex(clashMax, "doc_id", "text", maxDfFrac = 0.5))
  }

  test("bm25TopK ranks the term-dense short doc first and respects k") {
    val top = Relevance.bm25TopK(docs, "doc_id", "text", Seq("spark"), k = 2)
    val rows = top.collect()
    assert(rows.length == 2)
    // doc 2 has tf=2 and is short -> highest BM25 for "spark"
    assert(rows.head.getLong(0) == 2L)
    assert(rows.head.getDouble(1) > rows(1).getDouble(1))
    // only docs containing the term score
    assert(rows.map(_.getLong(0)).toSet.subsetOf(Set(1L, 2L)))
  }

  test("bm25TopK multi-term scores sum per doc") {
    val one = Relevance.bm25TopK(docs, "doc_id", "text", Seq("joins"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val two = Relevance.bm25TopK(docs, "doc_id", "text", Seq("joins", "filters"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 1 contains joins but not filters: same score in both runs
    assert(math.abs(one(1L) - two(1L)) < 1e-6)
    // doc 4 only matches the second query
    assert(!one.contains(4L) && two.contains(4L))
  }

  test("invertedIndex returns sorted postings and applies df caps") {
    val idx = Relevance.invertedIndex(docs, "doc_id", "text")
    val m = idx.collect().map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(m("spark") == ((2L, Seq(1L, 2L))))
    assert(m("data") == ((2L, Seq(1L, 3L))))
    // cap at 25% of 4 docs = df <= 1: every term here has df 2 -> empty
    assert(Relevance.invertedIndex(docs, "doc_id", "text", maxDfFrac = 0.25).count() == 0)
    // minDf = 3 also empties it
    assert(Relevance.invertedIndex(docs, "doc_id", "text", minDf = 3L).count() == 0)
  }

  test("bigramPmi finds the collocation and matches hand-computed pmi") {
    val corpus = Seq(
      "new york is big", "new york runs fast", "big data runs", "is new data"
    ).toDF("text")
    val out = Relevance.bigramPmi(corpus, "text", minCount = 2L).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // "new york" occurs 2x; unigrams: new=3, york=2; 14 tokens, 10 bigrams
    val expected = math.log((2.0 / 10.0) / ((3.0 / 14.0) * (2.0 / 14.0)))
    assert(out.keySet == Set(("new", "york")))
    assert(math.abs(out(("new", "york"))._2 - BigDecimal(expected).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out(("new", "york"))._1 == 2L)
  }

  test("bigramPmi handles one-token and empty docs") {
    val corpus = Seq("solo", "", "a b a b").toDF("text")
    val out = Relevance.bigramPmi(corpus, "text", minCount = 2L)
    // "a b" occurs twice; no crash on the degenerate docs
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSet == Set(("a", "b")))
  }

  test("unigramPerplexity: in-distribution docs score low, rare-word docs high") {
    val corpus = ((1 to 20).map(i => (i.toLong, "the cat sat on the mat")) :+
      (100L, "zyzzyva qwerty xylem") :+ (200L, ""))
      .toDF("doc_id", "text")
    val out = Relevance.unigramPerplexity(corpus, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[java.lang.Long]("n_tokens")),
          Option(r.getAs[java.lang.Double]("perplexity")))).toMap
    assert(out(200L) == ((None, None)), "empty doc scores null")
    assert(out(1L)._1.contains(6L))
    assert(out(100L)._2.get > 3 * out(1L)._2.get,
      s"rare-word doc must score far higher: ${out(100L)} vs ${out(1L)}")
    // all common docs identical
    assert(out(1L) == out(20L))
  }

  test("unigramPerplexity against an external LM: OOV takes the unseen mass") {
    val lm = Seq(("the", 100L), ("cat", 50L)).toDF("word", "c")
    val docs = Seq((1L, "the cat"), (2L, "the zonk")).toDF("doc_id", "text")
    val out = Relevance.unigramPerplexity(docs, "doc_id", "text",
      lmCounts = Some(lm))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("perplexity")).toMap
    // N=150, V=2: p(the)=101/152, p(cat)=51/152, p(zonk)=1/152
    val p1 = math.exp(-(math.log(101.0 / 152) + math.log(51.0 / 152)) / 2)
    val p2 = math.exp(-(math.log(101.0 / 152) + math.log(1.0 / 152)) / 2)
    assert(math.abs(out(1L) - p1) < 1e-6)
    assert(math.abs(out(2L) - p2) < 1e-6)
    assert(out(2L) > out(1L))
  }

  test("bigramPerplexity: hand-computed interpolated model, short docs null") {
    val docs = Seq((1L, "a b a b c"), (2L, "b a"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    val out = Relevance.bigramPerplexity(docs, "doc_id", "text",
      lambda = 0.7, alpha = 1.0)
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[java.lang.Long]("n_bigrams")),
          Option(r.getAs[java.lang.Double]("bigram_perplexity")))).toMap
    assert(out(3L) == ((None, None)), "1-token doc scores null")
    assert(out(4L) == ((None, None)), "empty doc scores null")
    assert(out(1L)._1.contains(4L) && out(2L)._1.contains(1L))
    // independent brute force over the same corpus
    val toks = Map(1L -> Seq("a", "b", "a", "b", "c"), 2L -> Seq("b", "a"))
    val allToks = toks.values.flatten.toSeq ++ Seq("solo")
    val uni = allToks.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val n = allToks.size.toDouble
    val v = uni.size.toDouble
    val bgs = toks.values.toSeq.flatMap(ws => ws.zip(ws.tail))
    val cb = bgs.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val cp = bgs.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    def ppl(id: Long): Double = {
      val ws = toks(id)
      val lps = ws.zip(ws.tail).map { case (p, w) =>
        math.log(0.7 * (cb((p, w)) / cp(p)) + (1.0 - 0.7) * ((uni(w) + 1.0) / (n + v)))
      }
      math.exp(-lps.sum / lps.size)
    }
    assert(math.abs(out(1L)._2.get - ppl(1L)) < 1e-5, s"${out(1L)} vs ${ppl(1L)}")
    assert(math.abs(out(2L)._2.get - ppl(2L)) < 1e-5)
  }

  test("bigramPerplexity against an external LM: OOV degrades gracefully") {
    val ref = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b"), (2L, "b q")).toDF("doc_id", "text")
    val out = Relevance.bigramPerplexity(docs, "doc_id", "text",
      lmBigrams = Some(Relevance.bigramCounts(ref, "text")),
      lmUnigrams = Some(Relevance.unigramCounts(ref, "text")))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[java.lang.Double]("bigram_perplexity"))
      .toMap
    // ref: uni a=2 b=2 (N=4, V=2); bigrams (a,b)=2 (b,a)=1; cp a→2 b→1
    // doc1 "a b": p = .7·(2/2) + .3·(2+1)/6; one bigram → ppl = 1/p
    val p1 = 1.0 / (0.7 * 1.0 + (1.0 - 0.7) * (3.0 / 6.0))
    // doc2 "b q": (b,q) unseen → MLE 0; q OOV → unseen mass (0+1)/6
    val p2 = 1.0 / ((1.0 - 0.7) * (1.0 / 6.0))
    assert(math.abs(out(1L) - p1) < 1e-6)
    assert(math.abs(out(2L) - p2) < 1e-6)
    assert(out(2L) > out(1L))
  }

  test("bigramPerplexity: degenerate repetition scores lower than mixed text") {
    // "a a a a ..." has one bigram type with probability ~1 — the model
    // finds it maximally predictable; varied text scores higher
    val docs = ((1 to 10).map(i => (i.toLong, "a a a a a a")) :+
      (100L, "q w e r t y")).toDF("doc_id", "text")
    val out = Relevance.bigramPerplexity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[java.lang.Double]("bigram_perplexity")).toMap
    assert(out(1L) < out(100L))
  }

  test("bigramPerplexity plan: no window — bigrams from a narrow zip_with") {
    val corpus = (1 to 50).map(i => (i.toLong, s"w${i % 7} w${i % 5} w${i % 7}"))
      .toDF("doc_id", "text")
    val plan = Relevance.bigramPerplexity(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window leaked:\n$plan")
  }

  test("unigramPerplexity plan: no window, vocab join at doc-distinct-term grain") {
    val corpus = (1 to 50).map(i => (i.toLong, s"w${i % 7} w${i % 5} w${i % 7}"))
      .toDF("doc_id", "text")
    val plan = Relevance.unigramPerplexity(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window leaked:\n$plan")
  }

  test("bm25TopK on an empty corpus returns an empty frame, not NPE") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Relevance.bm25TopK(empty, "doc_id", "text", Seq("anything"))
    assert(out.columns.toSeq == Seq("doc_id", "score") && out.count() == 0)
  }

  test("rrfFuse: hand-computed fusion, missing docs contribute nothing") {
    // list A ranks docs 1,2,3; list B ranks 2,1,4
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rnk")
    val b = Seq((2L, 1), (1L, 2), (4L, 3)).toDF("doc_id", "rnk")
    val out = Relevance.rrfFuse(Seq(a, b), "doc_id", "rnk", k = 4, c = 60.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    def rr(ranks: Int*) = BigDecimal(ranks.map(r => 1.0 / (60 + r)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // docs 1 and 2 tie exactly (ranks {1,2} in both orders): id breaks it
    assert(out.toSeq == Seq(
      (1L, rr(1, 2), 1), (2L, rr(2, 1), 2), (3L, rr(3), 3), (4L, rr(3), 4)))
  }

  test("rrfFuse: k truncates and single-list fusion preserves order") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rnk")
    val out = Relevance.rrfFuse(Seq(a), "doc_id", "rnk", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
    assert(out == Seq((10L, 1), (20L, 2)))
    intercept[IllegalArgumentException](Relevance.rrfFuse(Nil, "doc_id", "rnk", 1))
  }

  test("hybridTopK fuses the lexical and vector lists over a shared id space") {
    val docs = Seq(
      (1L, "query term match twice query term"),
      (2L, "query term once"),
      (3L, "nothing relevant at all")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(0.0, 1.0)), (2L, Array(1.0, 0.0)), (3L, Array(0.9, 0.1)))
      .toDF("doc_id", "vec")
    val out = Relevance.hybridTopK(docs, emb, "doc_id", "text", "vec",
      Seq("query"), Array(1.0, 0.0), k = 3, nPerList = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    // doc 2: lexical rank 2 + semantic rank 1 wins over doc 1 (lex 1, sem 3)
    // and doc 3 (sem 2 only)
    assert(out.head == ((2L, 1)))
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L))
  }

  test("rrfFuse: duplicate ids within one list count only their best rank") {
    val a = Seq((1L, 1), (1L, 3), (2L, 2)).toDF("doc_id", "rnk") // malformed: 1 twice
    val out = Relevance.rrfFuse(Seq(a), "doc_id", "rnk", k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    def rr(r: Int) = BigDecimal(1.0 / (60 + r))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Map(1L -> rr(1), 2L -> rr(2)))
  }
}
