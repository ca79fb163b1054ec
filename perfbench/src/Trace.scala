package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Call timing plus, when enabled, span recording.
  *
  * Every public call the benchmark makes goes through [[Trace.time]], so the
  * end-to-end figures are taken the same way in plain and traced runs. With
  * tracing on, each call also becomes a span (name, start, end, parent, run
  * id) and its id is set as the `perfbench.span` job property, which the
  * [[JobListener]] reads to parent the Spark jobs the call submits.
  * Spans stay in memory until the run writes them out.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  import Trace._

  private val epochMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1
  private var sc: Option[SparkContext] = None

  def nowMs: Double = epochMs + (System.nanoTime() - originNs) / 1e6

  /** Spark context whose job property carries the current span id. */
  def attach(context: SparkContext): Unit = {
    sc = Some(context)
    sc.foreach(_.setLocalProperty(SpanProperty, stack.head.toString))
  }

  /** Runs `f`, returning its result and wall seconds. */
  def time[A](name: String)(f: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    if (enabled) {
      stack = id :: stack
      sc.foreach(_.setLocalProperty(SpanProperty, id.toString))
    }
    val t0 = System.nanoTime()
    val start = nowMs
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally if (enabled) {
      buf += Span(id, name, parent, start, nowMs, "call")
      stack = stack.tail
      sc.foreach(_.setLocalProperty(SpanProperty, stack.head.toString))
    }
  }

  def spans: Seq[Span] = buf.toVector

  def freshId(): Int = { val id = nextId; nextId += 1; id }
}

object Trace {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double, kind: String)
}

/** Job and stage metrics, read from outside the program: each Spark job is
  * keyed by the benchmark's call span and by the `graft.stage` property
  * that `Pipeline.run` sets, and each Spark stage's task metrics are
  * charged to the job that first submitted it.
  */
final class JobListener extends SparkListener {
  import JobListener._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Trace.SpanProperty))).map(_.toInt).getOrElse(0)
    val tag = p.flatMap(x => Option(x.getProperty("graft.stage")))
    jobs(e.jobId) = Job(e.jobId, e.time, span, tag, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.successful)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    // a resubmitted attempt replaces the earlier one: volume is counted once
    stages(i.stageId) = StageAgg(m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      taskMs.remove(i.stageId).map(_.toVector).getOrElse(Vector.empty))
  }

  def allJobs: Seq[Job] = synchronized(jobs.values.toVector)

  /** Spark stages first submitted by `js`, with their metrics. */
  def stagesOf(js: Seq[Job]): Seq[StageAgg] = synchronized {
    val ids = js.map(_.id).toSet
    stageJob.collect { case (s, j) if ids(j) && stages.contains(s) => stages(s) }.toVector
  }
}

object JobListener {
  final case class Job(id: Int, startMs: Long, span: Int, tag: Option[String], stageIds: Seq[Int]) {
    @volatile var endMs: Long = startMs
  }
  final case class StageAgg(
      runMs: Long, cpuMs: Long, gcMs: Long, shuffleWriteB: Long, spillB: Long, taskMs: Seq[Long])
}
