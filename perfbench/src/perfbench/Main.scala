package perfbench

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

import scala.util.{Failure, Success, Try}

/** One benchmark run in one JVM: start the session, stage the seeded
  * inputs, warm up, then run timed passes for the requested seconds and
  * write everything measured as JSON for `run.py` to reduce.
  *
  * Usage: Main --workload NAME --seed N --seconds S --trace 0|1
  *             --work DIR --out FILE [--mode run|stage]
  * `--mode stage` only stages the inputs and records their digest. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val w = Workloads.byName(opts("workload"))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val stageOnly = opts.getOrElse("mode", "run") == "stage"
    w.prepare(seed)

    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionS = secs(t0)
    val recorder = new Recorder
    if (trace) sc.addSparkListener(recorder)
    val ctx = new Ctx(spark, new Tracer(sc, trace), work)

    val dir = s"$work/input"
    val t1 = System.nanoTime()
    val input = w.stage(ctx, dir)
    val stageS = secs(t1)

    val json = new Json
    json.field("workload", w.name).field("seed", seed).field("trace", trace)
      .field("cores", cores).field("input_rows", input.rows).field("input_bytes", input.bytes)
      .field("staged_digest", input.digest)
    if (stageOnly) {
      writeOut(opts("out"), json)
      spark.stop()
      return
    }

    val warm = (0 until w.warmPasses).map { i =>
      ctx.tr.beginPass(-1 - i)
      val t = System.nanoTime()
      val o = runPass(w, ctx, dir, -1 - i)
      val wall = secs(t)
      ctx.delete(ctx.passDir(-1 - i))
      (o, wall)
    }
    json.field("setup", new Json()
      .field("session_s", sessionS)
      .field("stage_s", stageS)
      .nums("warm_s", warm.map(_._2)))
    json.raw("warm", warm.map { case (o, s) => outcome(o, s) }.mkString("[", ",", "]"))

    ListenerDrain(sc)
    recorder.clear()
    val start = System.nanoTime()
    val done = scala.collection.mutable.ArrayBuffer.empty[(PassOutcome, Double)]
    while (done.isEmpty || secs(start) < seconds) {
      // no pass inherits the garbage of the one before
      System.gc()
      HeapPeak.reset()
      val i = done.size
      ctx.tr.beginPass(i)
      val t = System.nanoTime()
      val c = cpuNs()
      val o = ctx.tr.span("pass")(runPass(w, ctx, dir, i))
      done += ((o.copy(cpuS = (cpuNs() - c) / 1e9, heapBytes = HeapPeak.bytes), secs(t)))
      ctx.delete(ctx.passDir(i))
    }
    json.raw("passes", done.map { case (o, s) => outcome(o, s) }.mkString("[", ",", "]"))

    if (trace) {
      ListenerDrain(sc)
      val (jobs, stages, execs) = recorder.snapshot()
      json.raw("executions", execs.map { x =>
        new Json().field("id", x.id).field("description", x.description).field("writes", x.writes)
          .field("scan_bytes", x.scanBytes).render
      }.mkString("[", ",", "]"))
      json.raw("spans", ctx.tr.recorded.map { s =>
        new Json().field("id", s.id).field("name", s.name).field("parent", s.parent)
          .field("pass", s.pass).field("start_ms", s.startMs).field("end_ms", s.endMs).render
      }.mkString("[", ",", "]"))
      json.raw("jobs", jobs.map { j =>
        new Json().field("id", j.id).field("span", j.span).field("phase", j.phase)
          .field("exec_id", j.execId).field("site", j.site)
          .field("start_ms", j.startMs).field("end_ms", j.endMs).render
      }.mkString("[", ",", "]"))
      json.raw("stages", stages.map { s =>
        new Json().field("id", s.id).field("span", s.span)
          .field("tasks", s.tasks).field("run_ms", s.runMs).field("cpu_ns", s.cpuNs)
          .field("gc_ms", s.gcMs).field("sched_ms", s.schedMs)
          .field("shuffle_read", s.shuffleRead).field("shuffle_write", s.shuffleWrite)
          .field("spill_disk", s.spillDisk).field("output_bytes", s.outputBytes)
          .nums("task_shuffle_read", s.taskShuffleRead.map(_.toDouble).toSeq)
          .raw("intervals", s.merged.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]"))
          .render
      }.mkString("[", ",", "]"))
    }
    writeOut(opts("out"), json)
    spark.stop()
  }

  private def runPass(w: Workload, ctx: Ctx, dir: String, id: Int): PassOutcome =
    Try(w.pass(ctx, dir, id)) match {
      case Success(o) => o
      case Failure(e) =>
        PassOutcome(0, ok = false, s"${e.getClass.getName}: ${e.getMessage}".take(2000), "",
          counts = Map("batches" -> w.operations.toDouble))
    }

  private def outcome(o: PassOutcome, wall: Double): String = {
    val j = new Json().field("wall_s", wall).field("cpu_s", o.cpuS).field("heap_bytes", o.heapBytes).field("rows", o.rows).field("ok", o.ok)
      .field("detail", o.detail).field("digest", o.digest).nums("batch_ms", o.batchMs)
    val counts = new Json()
    o.counts.toSeq.sortBy(_._1).foreach { case (k, v) => counts.field(k, v) }
    j.field("counts", counts).render
  }

  private def secs(t: Long): Double = (System.nanoTime() - t) / 1e9

  /** CPU time of the whole JVM: tasks, planning, GC and compilation. */
  private def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def writeOut(path: String, json: Json): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json.render)
}

/** Minimal JSON object writer. */
final class Json {
  private val parts = scala.collection.mutable.ArrayBuffer.empty[String]

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  def raw(k: String, v: String): Json = { parts += s"${quote(k)}:$v"; this }
  def field(k: String, v: String): Json = raw(k, quote(v))
  def field(k: String, v: Double): Json = raw(k, num(v))
  def field(k: String, v: Long): Json = raw(k, v.toString)
  def field(k: String, v: Int): Json = raw(k, v.toString)
  def field(k: String, v: Boolean): Json = raw(k, v.toString)
  def field(k: String, v: Json): Json = raw(k, v.render)
  def nums(k: String, vs: Seq[Double]): Json = raw(k, vs.map(num).mkString("[", ",", "]"))
  def render: String = parts.mkString("{", ",", "}")
}
