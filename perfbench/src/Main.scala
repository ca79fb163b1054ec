package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run: one workload in this JVM.
  *
  * `perfbench/run.py` builds the classes and starts this main with
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  * --expect DIR --data DIR`. The result, with every end-to-end and per-layer figure,
  * goes to `--out` as JSON; `run.py` prints it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val ctx = new Ctx(
      new Trace(opts("trace") == "1", java.util.UUID.randomUUID().toString),
      Paths.get(opts("work")), Paths.get(opts("expect")), opts("seed").toLong,
      opts("seconds").toDouble)
    opts("workload") match {
      case "build"    => Build.run(ctx)
      case "delta"    => Delta.run(ctx)
      case "queries"  => Queries.run(ctx, opts("data"))
      case w          => sys.error(s"unknown workload $w")
    }
    ctx.finish(Paths.get(opts("out")))
  }
}

/** State of one run: the session, the op and check counters, the figures. */
final class Ctx(val trace: Trace, val work: Path, val expect: Path, val seed: Long,
    val seconds: Double) {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  /** One listener per session when tracing (job ids restart per context). */
  private val listeners = mutable.ArrayBuffer.empty[JobListener]
  private var current: Option[SparkSession] = None

  /** A `local[threads]` session as the pipeline builds it, with
    * `spark.sql.shuffle.partitions` = threads.
    */
  def session(threads: Int): SparkSession = {
    current.foreach(_.stop())
    val s = graft.pipeline.Pipeline.sparkSession(s"local[$threads]", threads, "perfbench")
    s.sparkContext.setLogLevel("ERROR")
    if (trace.enabled) {
      listeners += new JobListener
      s.sparkContext.addSparkListener(listeners.last)
    }
    trace.attach(s.sparkContext)
    current = Some(s)
    s
  }

  /** A measured operation: it fails if it throws. */
  def op[A](name: String)(f: => A): Option[(A, Double)] = {
    attempted += 1
    try Some(trace.time(name)(f))
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name threw $e"
        None
    }
  }

  /** An output check: one attempted operation, failed unless `ok`. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += s"check $name: $detail"
    }
  }

  /** The current session's job metrics, complete once the listener bus
    * is drained.
    */
  def drained(): Option[JobListener] = {
    current.foreach(s => org.apache.spark.PerfbenchBus.drain(s.sparkContext))
    listeners.lastOption
  }

  def finish(out: Path): Unit = {
    e2e("peak_rss_mb") = Stats.peakRssMb()
    current.foreach(_.stop())
    current = None
    val j = new StringBuilder
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s"${Json.str(k)}:${num(v)}" }.mkString("{", ",", "}")
    j ++= s"""{"attempted":$attempted,"failed":$failed,"""
    j ++= s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},"""
    j ++= s""""e2e":${obj(e2e)},"layers":${obj(layers)},"""
    j ++= s""""info":${info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")}}"""
    Files.write(out, j.toString.getBytes(StandardCharsets.UTF_8))
    if (trace.enabled) writeSpans(out.resolveSibling("spans.jsonl"))
  }

  /** Call spans plus one span per Spark job, parented by the `graft.stage`
    * span it ran under (one per pipeline stage, spanning its jobs) or else
    * by the call that submitted it.
    */
  private def writeSpans(path: Path): Unit = {
    val jobs = listeners.toSeq.flatMap(_.allJobs)
    val stageSpans = jobs.filter(_.tag.isDefined).groupBy(j => (j.span, j.tag.get)).map {
      case ((parent, tag), js) =>
        (parent, tag) -> Trace.Span(trace.freshId(), s"stage:$tag", parent,
          js.map(_.startMs).min.toDouble, js.map(_.endMs).max.toDouble, "stage")
    }
    val all = trace.spans ++ stageSpans.values ++ jobs.map { j =>
      val parent = j.tag.map(t => stageSpans((j.span, t)).id).getOrElse(j.span)
      Trace.Span(trace.freshId(), s"job:${j.id}", parent, j.startMs.toDouble, j.endMs.toDouble, "job")
    }
    val lines = all.sortBy(_.startMs).map { s =>
      s"""{"run":${Json.str(trace.runId)},"id":${s.id},"name":${Json.str(s.name)},""" +
        s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},"kind":"${s.kind}"}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'          => sb ++= "\\\""
      case '\\'         => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c            => sb += c
    }
    sb += '"'
    sb.toString
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest sample. Below 22 samples that percentile would not be
    * above the median, so the maximum is reported instead.
    */
  def tail(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length < 22) s.last else s(s.length - 11)
  }

  /** Share of host CPU stolen from this machine above which a measured
    * section counts as disturbed; the workloads then measure one more
    * section and report the less disturbed one. On a shared 4-core host,
    * runs above it read up to 2× slower, and bursts of steal often end
    * within a section or two.
    */
  val StealLimit = 0.04

  /** (all, stolen) CPU jiffies so far, from `/proc/stat`. */
  def cpuTimes(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (v.take(8).sum, if (v.length > 7) v(7) else 0L)
  }

  /** Share of CPU time stolen since `from` (a [[cpuTimes]] reading). */
  def stealSince(from: (Long, Long)): Double = {
    val (all, stolen) = cpuTimes()
    (stolen - from._2).toDouble / math.max(all - from._1, 1L)
  }

  /** Process high-water resident set (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Regular files under `dir` by path, with their sizes. */
  def files(dir: Path): Map[String, Long] = {
    if (!Files.exists(dir)) Map.empty
    else {
      val b = Map.newBuilder[String, Long]
      val it = Files.walk(dir).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p)) b += p.toString -> Files.size(p)
      }
      b.result()
    }
  }

  /** Whether a file holds data rather than a marker (`_SUCCESS`, `.crc`). */
  def isData(path: String): Boolean = {
    val n = Paths.get(path).getFileName.toString
    !n.startsWith("_") && !n.startsWith(".")
  }
}
