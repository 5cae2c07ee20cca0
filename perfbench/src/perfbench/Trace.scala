package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Spans around the benchmark's calls into each library layer.
  *
  * A span carries a name (`layer.op`), its parent span and the pass it
  * belongs to. While a span is open its id is set as a Spark local
  * property, so [[Recorder]] attributes every job the span issues,
  * including jobs a library function runs eagerly while it builds its
  * result. Inside a span, [[call]] marks the library call and [[force]]
  * the benchmark's own action on the result.
  *
  * When tracing is off every method just runs its body. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  private var pass = -1

  def beginPass(p: Int): Unit = pass = p

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.fold(-1)(_._1)
      stack = (id, Call) :: stack
      setProps()
      val t0 = nowMs()
      try body
      finally {
        spans += Span(id, name, parent, pass, t0, nowMs())
        stack = stack.tail
        setProps()
      }
    }

  def call[T](body: => T): T = phase(Call)(body)
  def force[T](body: => T): T = phase(Force)(body)

  private def phase[T](p: String)(body: => T): T =
    if (!on || stack.isEmpty) body
    else {
      val (id, outer) = stack.head
      stack = (id, p) :: stack.tail
      setProps()
      try body
      finally { stack = (id, outer) :: stack.tail; setProps() }
    }

  private def setProps(): Unit = stack.headOption match {
    case Some((id, p)) =>
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setLocalProperty(PhaseKey, p)
    case None =>
      sc.setLocalProperty(SpanKey, null)
      sc.setLocalProperty(PhaseKey, null)
  }

  def recorded: Seq[Span] = spans.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
  val Call = "call"
  val Force = "force"

  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      startMs: Double, endMs: Double)

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable with the task launch and finish times Spark reports. */
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** Listener that aggregates task metrics per stage and remembers, per
  * job, the span and phase that issued it, and per SQL execution what
  * it was. */
final class Recorder extends SparkListener {
  import Recorder._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case start: SparkListenerSQLExecutionStart => synchronized {
      def writes(p: org.apache.spark.sql.execution.SparkPlanInfo): Boolean =
        p.nodeName.contains("InsertInto") || p.nodeName.contains("WriteFiles") ||
          p.children.exists(writes)
      execs(start.executionId) = ExecRec(start.executionId, start.description,
        writes(start.sparkPlanInfo), 0L)
    }
    case end: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.ExecutedPlans.of(end).foreach { p =>
        val bytes = PlanMetrics.scanBytes(p)
        synchronized(execs.get(end.executionId).foreach(x =>
          execs(end.executionId) = x.copy(scanBytes = bytes)))
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanKey).fold(-1)(_.toInt)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = JobRec(e.jobId, span, prop(Tracer.PhaseKey).getOrElse(""),
      prop("spark.sql.execution.id").fold(-1L)(_.toLong), site, e.time, e.time)
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new StageRec(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId, -1))
    val info = e.taskInfo
    st.tasks += 1
    st.intervals += ((info.launchTime.toDouble, info.finishTime.toDouble))
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      val sr = m.shuffleReadMetrics.totalBytesRead
      st.shuffleRead += sr
      st.taskShuffleRead += sr
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spillDisk += m.diskBytesSpilled
      st.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(): (Seq[JobRec], Seq[StageRec], Seq[ExecRec]) =
    synchronized((jobs.values.toSeq, stages.values.toSeq, execs.values.toSeq))

  def clear(): Unit = synchronized { jobs.clear(); stages.clear(); execs.clear() }
}

object Recorder {
  /** A SQL execution: the action's call site, whether its plan writes
    * files, and the bytes of the files its scans read. */
  final case class ExecRec(id: Long, description: String, writes: Boolean, scanBytes: Long)

  final case class JobRec(id: Int, span: Int, phase: String, execId: Long,
      site: String, startMs: Long, endMs: Long)

  final class StageRec(val id: Int, val span: Int) {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spillDisk = 0L
    var outputBytes = 0L
    val taskShuffleRead = mutable.ArrayBuffer.empty[Long]
    val intervals = mutable.ArrayBuffer.empty[(Double, Double)]

    /** Task run intervals merged into disjoint ones. */
    def merged: Seq[(Double, Double)] =
      intervals.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
        case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse
  }
}
