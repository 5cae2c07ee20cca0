package graft.observability

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ListenerBridge

/** Measured execution profile of one action: the numbers that decide
  * whether a plan survives a 100× scale-up. `shuffleWriteBytes` is THE
  * scale predictor — input scans parallelise for free, exchanges
  * don't — and watching it per pipeline stage is how the SCALE.md
  * exchange-volume arguments were produced. `jobs` counts every Spark
  * job started in the window — eager fences and counts included — the
  * number a per-batch fixed cost is made of. */
case class RunMetrics(
    rows: Long,
    wallMs: Long,
    jobs: Int,
    stages: Int,
    tasks: Int,
    inputBytes: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long)

/** Execution-metrics probe: run a frame once and report what the
  * cluster actually did (stages, tasks, input bytes, exchange bytes).
  *
  * The listener aggregates completed-stage task metrics. Listener
  * delivery is asynchronous, so the probe drains the listener bus
  * before it attaches (no earlier action's events leak in) and again
  * after the action, before it reads the counters: the counts are
  * exact. Run one measurement at a time per SparkContext — a
  * concurrent job's stages would land in the same counters (the
  * listener cannot attribute stages to jobs without the event-log
  * machinery in [[EventLog]], which is the offline tool for that).
  */
object RunMetricsProbe {

  /** Execute `df.count()` under a metrics listener and return the
    * profile. Eager by design — this is a measurement tool.
    *
    * Noise floor: the count action itself reduces partial counts
    * through one tiny exchange (~50 B per task), so a completely
    * narrow plan still reports a few hundred shuffle bytes. Read
    * kilobytes-and-up as plan shuffle, bytes as the action's own
    * reduce. */
  def measure(df: DataFrame): RunMetrics =
    probe(df.sparkSession)(df.count())

  /** Run an eager `Unit` body (an append, a compaction) under the
    * listener and report what it executed; `rows` is 0 — the body
    * returns nothing to count, and counting its output would add a
    * job. */
  def measureEager(spark: SparkSession)(body: => Unit): RunMetrics =
    probe(spark) { body; 0L }

  private def probe(spark: SparkSession)(action: => Long): RunMetrics = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val input = new AtomicLong
    val sw = new AtomicLong
    val sr = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics
        if (m != null) {
          stages.incrementAndGet()
          tasks.addAndGet(ev.stageInfo.numTasks)
          input.addAndGet(m.inputMetrics.bytesRead)
          sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          sr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val rows = action
      val wallMs = (System.nanoTime() - t0) / 1000000L
      ListenerBridge.drain(sc)
      RunMetrics(rows, wallMs, jobs.get(), stages.get(), tasks.get(),
        input.get(), sw.get(), sr.get())
    } finally sc.removeSparkListener(listener)
  }
}
