package perfbench

import graft.core.{DataFrameOps, Windows}
import graft.dedup.Dedup
import graft.functions.HashFunctions
import graft.io.{ReadTable, WriteTable}
import graft.streaming.Streaming
import graft.text.TextFunctions
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one pass produced. `ok` is false when the output failed
  * verification; `detail` then says how. The harness fills in the
  * pass's CPU time and peak heap. */
final case class PassOutcome(rows: Long, ok: Boolean, detail: String, digest: String,
    batchMs: Seq[Double] = Nil, counts: Map[String, Double] = Map.empty, cpuS: Double = 0,
    heapBytes: Long = 0)

/** Staged inputs: rows, bytes on disk and a digest of the rows read back. */
final case class Staged(rows: Long, bytes: Long, digest: String)

final class Ctx(val spark: SparkSession, val tr: Tracer, val work: String) {
  /** Force `df` only in the traced run, so each layer's output is
    * measured on its own there and the untraced pipeline stays lazy. */
  def forceTraced(df: DataFrame): DataFrame =
    if (tr.on) tr.force(df.localCheckpoint(eager = true)) else df

  def fs(path: String): org.apache.hadoop.fs.FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** (data files, bytes) under `path`, recursively; checksum and marker
    * files excluded. */
  def dataFiles(path: String): (Long, Long) = {
    val p = new Path(path)
    val f = fs(path)
    if (!f.exists(p)) (0L, 0L)
    else {
      val it = f.listFiles(p, true)
      var n = 0L
      var bytes = 0L
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (!name.startsWith(".") && !name.startsWith("_")) { n += 1; bytes += st.getLen }
      }
      (n, bytes)
    }
  }

  def delete(path: String): Unit = fs(path).delete(new Path(path), true)

  /** Where pass `id` writes; the harness removes it after the pass, so
    * the removal is not timed. */
  def passDir(id: Int): String = s"$work/pass-$id"

  /** (data files, bytes) a pass wrote under `path`; listed only in the
    * traced run, whose per-layer metrics report them. */
  def written(path: String): (Long, Long) = if (tr.on) dataFiles(path) else (0L, 0L)

  def stageDigest(df: DataFrame): Gen.Digest =
    df.rdd.map(r => Gen.Digest(1, Gen.mix(Gen.fnv64(r.toString))))
      .fold(Gen.Digest.empty)(_ + _)
}

trait Workload {
  def name: String
  /** Pure driver-side preparation (expected outputs); not timed. */
  def prepare(seed: Long): Unit
  /** Generate the seeded inputs and write them under `dir`. */
  def stage(ctx: Ctx, dir: String): Staged
  /** One pass over the inputs staged in `dir`, ending at its verified
    * output. */
  def pass(ctx: Ctx, dir: String, id: Int): PassOutcome
  /** Operations a pass attempts: 1, or its micro-batches. */
  def operations: Int = 1
  /** Untimed passes in set-up, enough for the JIT to compile the pass's
    * hot code: later passes then take about the same time. */
  def warmPasses: Int
}

object Workloads {
  val all: Seq[Workload] = Seq(CurationBatch, StatsTables, StreamIngest)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Documents staged by [[CurationBatch]] and [[StreamIngest]]:
    * 1,000 base documents times 4 rotation replicas. */
  def corpus(seed: Long): Corpus = Corpus(seed, 1000, 4)

  def stageCorpus(ctx: Ctx, c: Corpus, path: String): Staged = {
    import ctx.spark.implicits._
    val cores = ctx.spark.sparkContext.defaultParallelism
    ctx.spark.range(0, c.size, 1, cores).map(i => c.doc(i)).write.parquet(path)
    val back = ctx.stageDigest(ctx.spark.read.parquet(path))
    Staged(back.count, ctx.dataFiles(path)._2, back.toString)
  }

  def diff(what: String, got: Set[Long], want: Set[Long]): Option[String] =
    if (got == want) None
    else {
      val extra = (got -- want).toSeq.sorted.take(5)
      val missing = (want -- got).toSeq.sorted.take(5)
      Some(s"$what: ${got.size} rows, expected ${want.size}; " +
        s"unexpected ${extra.mkString(",")} missing ${missing.mkString(",")}")
    }
}

/** Quality gate, MinHash-LSH pairs, duplicate clusters and greedy
  * near-duplicate removal over the document corpus. Nothing is
  * written; MinHash-LSH pairing takes about half of a pass. */
object CurationBatch extends Workload {
  val name = "curation_batch"
  val warmPasses = 4
  /** Originals score about 0.74-0.99 and junk about 0.3 under
    * `TextFunctions.qualityScore`; the gate sits between. */
  val Gate = 0.5

  private var corpus: Corpus = _
  private var gated: Set[Long] = Set.empty
  private var survivors: Set[Long] = Set.empty
  private var clusters: Map[Long, Long] = Map.empty

  def prepare(seed: Long): Unit = {
    corpus = Workloads.corpus(seed)
    gated = (0L until corpus.size).filterNot(id => corpus.isJunk((id % corpus.baseDocs).toInt)).toSet
    val rep = gated.iterator.map(id => id -> corpus.representative(id)).toMap
    survivors = gated.filter(id => rep(id) == id)
    val roots = rep.collect { case (id, r) if r != id => r }.toSet
    clusters = rep.filter { case (id, r) => r != id || roots.contains(id) }
  }

  def stage(ctx: Ctx, dir: String): Staged =
    Workloads.stageCorpus(ctx, corpus, s"$dir/documents")

  def pass(ctx: Ctx, dir: String, id: Int): PassOutcome = {
    val tr = ctx.tr
    val docs = tr.span("io.scan") {
      ctx.forceTraced(tr.call(ReadTable.readParquet(ctx.spark, s"$dir/documents")))
    }
    val kept = tr.span("text.gate") {
      val g = tr.call(docs.filter(TextFunctions.qualityScore(col("text")) >= Gate))
      tr.force(g.localCheckpoint(eager = true))
    }
    if (tr.on) tr.span("functions.kernel") {
      // The signature kernels run inside minHashNearDuplicates' plan, where
      // no span can isolate them; this forces the same kernel chain alone.
      val sig = tr.call(kept.select(HashFunctions.minHashSignatureNative(
        HashFunctions.shingleHashesNative(
          TextFunctions.tokens(TextFunctions.normalizeText(col("text"))), 3), 64).as("sig")))
      tr.force(sig.agg(sum(size(col("sig")))).collect())
    }
    var counts = Map.empty[String, Double]
    val pairs = tr.span("dedup.pairs") {
      val raw = tr.call(Dedup.minHashNearDuplicates(kept, "text", "doc_id"))
      val p = tr.force(raw.localCheckpoint(eager = true))
      if (tr.on) counts = Map(
        "candidate_pairs" -> PlanMetrics.candidatePairs(raw).toDouble,
        "verified_pairs" -> tr.force(p.count()).toDouble)
      p
    }
    val cc = tr.span("operators.cc") {
      val c = tr.call(Dedup.duplicateClusters(pairs))
      tr.force(c.collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val out = tr.span("dedup.drop") {
      val s = tr.call(Dedup.dropNearDuplicates(kept, pairs, "doc_id"))
      tr.force(s.select("doc_id").collect()).map(_.getLong(0))
    }
    tr.span("bench.verify") {
      val outSet = out.toSet
      val dropped = cc.collect { case (i, c) if i != c => i }.toSet
      val problems = Seq(
        if (out.length != outSet.size) Some("duplicate survivor ids") else None,
        Workloads.diff("survivors", outSet, survivors),
        if (cc != clusters) Some(s"clusters: ${cc.size} ids, expected ${clusters.size}") else None,
        if ((outSet & dropped).nonEmpty || outSet.size + dropped.size != gated.size)
          Some(s"survivors ${outSet.size} + dropped ${dropped.size} != gated ${gated.size}")
        else None).flatten
      PassOutcome(corpus.size, problems.isEmpty, problems.mkString("; "),
        Gen.Digest.of(out.iterator).toString, counts = counts)
    }
  }
}

/** The rdsa-utils reference surface on sf0.1-shaped tables: filtered
  * parquet reads, a salted join, rank and median windows, melt, a
  * month-partitioned write and an aggregate over the table read back. */
object StatsTables extends Workload {
  val name = "stats_tables"
  val warmPasses = 4
  val Orders = 75000
  private val From = "1993-01-01"
  private val Until = "1998-01-01"
  private val Flags = Seq("A", "R")
  private val Values = Seq("quantity", "price_cents", "discount_pct")

  private var tables: Tables = _
  private var inputRows = 0L
  /** variable -> (rows, sum(value), sum(price_rank), sum(median_price)) */
  private var expected: Map[String, (Long, Long, Long, Long)] = Map.empty

  def prepare(seed: Long): Unit = {
    tables = Tables(seed, Orders)
    val lo = java.time.LocalDate.parse(From).toEpochDay
    val hi = java.time.LocalDate.parse(Until).toEpochDay
    val acc = Array.fill(3)(Array(0L, 0L, 0L, 0L))
    (0 until Orders).foreach { o =>
      val kept = (0 until tables.linesOf(o)).map(l => tables.lineValues(o, l))
        .filter { case (_, _, _, ship, flag) => ship >= lo && ship < hi && Flags.contains(flag) }
      val m = kept.size.toLong
      if (m > 0) {
        // percentile_approx over so few rows is exact: the value of rank ceil(m/2)
        val median = kept.map(_._2).sorted.apply(((m + 1) / 2 - 1).toInt)
        kept.foreach { case (q, p, d, _, _) =>
          Seq(q, p, d).zipWithIndex.foreach { case (v, i) => acc(i)(0) += 1; acc(i)(1) += v }
        }
        acc.foreach { a => a(2) += m * (m + 1) / 2; a(3) += m * median }
      }
    }
    expected = Values.zip(acc.map(a => (a(0), a(1), a(2), a(3)))).toMap
    inputRows = Orders + (0 until Orders).map(o => tables.linesOf(o).toLong).sum
  }

  def stage(ctx: Ctx, dir: String): Staged = {
    import ctx.spark.implicits._
    val t = tables
    val cores = ctx.spark.sparkContext.defaultParallelism
    val ordersDs = ctx.spark.range(0, Orders, 1, cores).map(o => t.order(o.toInt))
    ordersDs.write.parquet(s"$dir/orders")
    ctx.spark.range(0, Orders, 1, cores).flatMap(o => t.lines(o.toInt))
      .write.parquet(s"$dir/lineitem")
    val o = ctx.stageDigest(ctx.spark.read.parquet(s"$dir/orders"))
    val l = ctx.stageDigest(ctx.spark.read.parquet(s"$dir/lineitem"))
    Staged(o.count + l.count,
      ctx.dataFiles(s"$dir/orders")._2 + ctx.dataFiles(s"$dir/lineitem")._2, s"$o/$l")
  }

  def pass(ctx: Ctx, dir: String, id: Int): PassOutcome = {
    val tr = ctx.tr
    val spark = ctx.spark
    val out = s"${ctx.passDir(id)}/table"
    val lines = tr.span("io.scan") {
      ctx.forceTraced(tr.call(ReadTable.readParquet(spark, s"$dir/lineitem",
        columns = Seq("orderkey", "linenumber", "quantity", "price_cents", "discount_pct",
          "shipdate", "returnflag"),
        dateColumn = Some("shipdate"), dateRange = Some((From, Until)),
        columnFilters = Map("returnflag" -> Flags))))
    }
    val orders = tr.span("io.scan") {
      ctx.forceTraced(tr.call(ReadTable.readParquet(spark, s"$dir/orders",
        columns = Seq("orderkey", "orderpriority"))))
    }
    // The merge hint keeps saltedJoin on its salted shuffle path in both
    // runs; unhinted, the traced run's checkpointed input would change
    // the broadcast decision.
    val joined = tr.span("core.join") {
      ctx.forceTraced(tr.call(DataFrameOps.saltedJoin(lines, orders.hint("merge"), Seq("orderkey"))))
    }
    val windowed = tr.span("core.window") {
      ctx.forceTraced(tr.call(joined
        .withColumn("price_rank", Windows.rankNumeric(Seq("price_cents"), Seq("orderkey")))
        .withColumn("median_price", Windows.calcMedianPrice(Seq("orderkey"), "price_cents"))))
    }
    val melted = tr.span("core.melt") {
      ctx.forceTraced(tr.call(DataFrameOps.melt(windowed,
        Seq("orderkey", "linenumber", "orderpriority", "shipdate", "price_rank", "median_price"),
        Values, "variable", "value")))
    }
    tr.span("io.write") {
      tr.call(WriteTable.writeTable(melted, out, mode = "overwrite",
        partitionCol = Some("shipdate"), partitionType = Some("month")))
    }
    val rows = tr.span("core.aggregate") {
      val agg = tr.call(ReadTable.readParquet(spark, out).groupBy("variable").agg(
        count(lit(1)), sum("value"), sum("price_rank"), sum("median_price")))
      tr.force(agg.collect())
    }
    tr.span("bench.verify") {
      val (files, bytes) = ctx.written(out)
      val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val ok = got == expected
      PassOutcome(inputRows, ok,
        if (ok) "" else s"aggregate ${got.toSeq.sortBy(_._1)} != expected ${expected.toSeq.sortBy(_._1)}",
        Gen.Digest.of(got.toSeq.sortBy(_._1).iterator.flatMap { case (k, (a, b, c, d)) =>
          Iterator(Gen.fnv64(k), a, b, c, d) }).toString,
        counts = Map("write_files" -> files.toDouble, "write_bytes" -> bytes.toDouble))
    }
  }
}

/** The corpus fingerprinted once, then replayed as small micro-batches
  * through the full-recall survivor store, compacted every
  * [[CompactEvery]] batches. */
object StreamIngest extends Workload {
  val name = "stream_ingest"
  val Batches = 8
  val CompactEvery = 3
  val MaxHamming = 3

  private var corpus: Corpus = _
  private var survivors: Set[Long] = Set.empty

  override def operations: Int = Batches
  val warmPasses = 1

  def prepare(seed: Long): Unit = {
    corpus = Workloads.corpus(seed)
    survivors = (0L until corpus.size).filter(id => corpus.representative(id) == id).toSet
  }

  def stage(ctx: Ctx, dir: String): Staged =
    Workloads.stageCorpus(ctx, corpus, s"$dir/documents")

  def pass(ctx: Ctx, dir: String, id: Int): PassOutcome = {
    val tr = ctx.tr
    val spark = ctx.spark
    val store = s"${ctx.passDir(id)}/store"
    val per = corpus.size / Batches
    val docs = tr.span("io.scan") {
      ctx.forceTraced(tr.call(ReadTable.readParquet(spark, s"$dir/documents")))
    }
    val fps = tr.span("functions.fingerprint") {
      val f = tr.call(Streaming.shardedFingerprints(docs, "doc_id").toDF().select("id", "sim"))
      tr.force(f.localCheckpoint(eager = true))
    }
    val ms = (0 until Batches).map { b =>
      val batch = fps.filter(col("id") >= b * per && col("id") < (b + 1) * per)
      if (tr.on) tr.span("dedup.store_probe") {
        val d = tr.call(Streaming.dedupBatchAgainstStore(batch, store, b, MaxHamming))
        tr.force(d.count())
      }
      val t0 = System.nanoTime()
      tr.span("streaming.batch") {
        tr.span("streaming.append") {
          tr.call(Streaming.appendBatchToFullRecallStore(batch, store, b, MaxHamming))
        }
        if (b > 0 && b % CompactEvery == 0) tr.span("streaming.compact") {
          tr.call(Streaming.compactFullRecallStore(spark, store, b - 1))
        }
      }
      (System.nanoTime() - t0) / 1e6
    }
    val replayed = Batches * per
    tr.span("bench.verify") {
      val got = tr.force(Streaming.readFullRecallStore(spark, store).select("id").collect())
        .map(_.getLong(0))
      val gotSet = got.toSet
      val sims = tr.force(fps.filter(col("id") < replayed).collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val planted = (0L until replayed).filter(i => !survivors(i) && gotSet(corpus.representative(i)))
      val unexpected = (survivors.filter(_ < replayed) -- gotSet).size
      val problems = Seq(
        if (got.length != gotSet.size) Some("duplicate survivor ids") else None,
        Workloads.diff("survivors vs. the drop rule on the library's fingerprints",
          gotSet, replay(sims, per)),
        planted.find(gotSet).map(i => s"planted variant $i survives beside its root")).flatten
      val (files, bytes) = ctx.written(store)
      PassOutcome(replayed, problems.isEmpty, problems.mkString("; "),
        Gen.Digest.of(got.iterator).toString, ms,
        Map("store_bytes" -> bytes.toDouble, "store_files" -> files.toDouble,
          "batches" -> Batches.toDouble, "unexpected_drops" -> unexpected.toDouble))
    }
  }

  /** The survivors the store must hold, from the fingerprints alone: a
    * document is dropped when a lower id of its own micro-batch, or a
    * survivor of an earlier one, lies within [[MaxHamming]] of it. */
  private def replay(sims: Map[Long, Long], per: Long): Set[Long] = {
    def near(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b) <= MaxHamming
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until Batches).foldLeft(Set.empty[Long]) { (acc, b) =>
      val ids = (b * per until (b + 1) * per).toArray
      val survive = ids.filter { i =>
        !ids.exists(j => j < i && near(sims(i), sims(j))) && !kept.exists(near(sims(i), _))
      }
      kept ++= survive.map(sims)
      acc ++ survive
    }
  }
}
