package perfbench

import java.nio.file.Paths
import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Materialize, TripleEmit, TripleRow}

/** `delta`: one client in a closed loop over a base graph that set-up
  * builds. Each step ingests seeded foreign Turtle documents, some of them
  * malformed, retracts a share of earlier status triples, lands the batch
  * with `Materialize.mergeDeltaLsm` and then reads the merged graph.
  */
object Delta {
  val BaseDocs = 12000
  val BatchDocs = 2000
  val MalformedPerBatch = 100
  val RetractPerBatch = 200
  /** Warm-up steps, on a graph that compacts every fourth delta batch so
    * the compaction path is warm too.
    */
  private val WarmSteps = 2
  private val Prefixes = Map("ex" -> DeltaGen.Ns, "xsd" -> "http://www.w3.org/2001/XMLSchema#")

  /** What the graph must hold: every valid document's triples, less the
    * retracted status triples.
    */
  private final class Model {
    val docs = scala.collection.mutable.ArrayBuffer.empty[DeltaGen.Doc]
    val retracted = scala.collection.mutable.HashSet.empty[Long]
    var total = 0L
    def add(ds: Seq[DeltaGen.Doc]): Unit = ds.filterNot(_.malformed).foreach { d =>
      docs += d
      total += d.triples
    }
    def liveStatus: Long = docs.size - retracted.size
    def subjTriples(d: DeltaGen.Doc): Int = d.subjTriples - (if (retracted(d.id)) 1 else 0)
  }

  private def ingest(spark: SparkSession, docs: Seq[DeltaGen.Doc])
      : (Dataset[TripleRow], Long, Long) = {
    import spark.implicits._
    val ds = docs.map(d => (d.url, new Timestamp(d.id * 1000L), d.text)).toDS()
    val (tri, rej) = TripleEmit.ingestTurtle(ds)
    (tri, tri.count(), rej.count())
  }

  private def batch(seed: Long, step: Int): Seq[DeltaGen.Doc] = {
    val rnd = DeltaGen.rng(seed, -1L - step)
    val bad = rnd.shuffle((0 until BatchDocs).toList).take(MalformedPerBatch).toSet
    val id0 = BaseDocs.toLong + step.toLong * BatchDocs
    (0 until BatchDocs).map(j => DeltaGen.doc(seed, id0 + j, bad(j)))
  }

  private def buildBase(spark: SparkSession, seed: Long, out: String, n: Int): Model = {
    val m = new Model
    val docs = (0 until n).map(i => DeltaGen.doc(seed, i.toLong, malformed = false))
    Materialize.write(ingest(spark, docs)._1, out)
    m.add(docs)
    m
  }

  /** Per-step samples: batch latency, read latencies, ingested triples. */
  private final case class Step(batchS: Double, readS: Seq[Double], triples: Long, ingestS: Double,
      rejects: Long, appendS: Seq[Double], compactS: Option[Double], appendedB: Long, rewrittenB: Long)

  /** One closed-loop step. Calls are measured ops (and checked) when
    * `measured`, otherwise only timed as set-up. `compactEvery` overrides
    * the LSM's default compaction threshold.
    */
  private def step(ctx: Ctx, spark: SparkSession, out: String, m: Model, seed: Long, k: Int,
      measured: Boolean, compactEvery: Option[Int] = None): Option[Step] = {
    import spark.implicits._
    def call[A](name: String)(f: => A): Option[(A, Double)] =
      if (measured) ctx.op(name)(f) else Some(ctx.trace.time(s"setup/$name")(f))
    def check(name: String, ok: Boolean, detail: => String): Unit =
      if (measured) ctx.check(name, ok, detail) else require(ok, s"$name: $detail")
    val docs = batch(seed, k)
    val rnd = DeltaGen.rng(seed + 1000003L, k)
    val live = m.docs.filterNot(d => m.retracted(d.id))
    val retract = rnd.shuffle(live.toList).take(RetractPerBatch)
    val filesBefore = if (ctx.trace.enabled) Stats.files(Paths.get(out)) else Map.empty[String, Long]

    val t0 = System.nanoTime()
    val ing = call("TripleEmit.ingestTurtle")(ingest(spark, docs))
    if (ing.isEmpty) return None
    val ((tri, nTri, nRej), ingestS) = ing.get
    val del = retract.map(d => (d.subj, DeltaGen.StatusPred, "\"" + d.status + "\"", d.url,
      new Timestamp(d.id * 1000L), Materialize.OpDel))
      .toDF("subj", "pred", "obj", "src_url", "warc_ts", "op")
    val app = call("Materialize.appendDeltaOps")(Materialize.appendDeltaOps(spark, out, del))
    val merge = call("Materialize.mergeDeltaLsm")(
      compactEvery.fold(Materialize.mergeDeltaLsm(spark, out, tri))(
        n => Materialize.mergeDeltaLsm(spark, out, tri, maxDeltaBatches = n)))
    val batchS = (System.nanoTime() - t0) / 1e9
    if (app.isEmpty || merge.isEmpty) return None
    val compacted = Materialize.deltaBatchCount(spark, out) == 0
    val (appendedB, rewrittenB) =
      if (!ctx.trace.enabled) (0L, 0L)
      else {
        val after = Stats.files(Paths.get(out))
        val fresh = after.filter { case (p, _) => !filesBefore.contains(p) && Stats.isData(p) }
        val inDelta = (p: String) => p.contains("/_delta/")
        (fresh.filter(f => inDelta(f._1)).values.sum, fresh.filterNot(f => inDelta(f._1)).values.sum)
      }

    val want = docs.filterNot(_.malformed)
    check("rejects equal the planted malformed documents", nRej == MalformedPerBatch, s"$nRej")
    check("ingested triples", nTri == want.map(_.triples.toLong).sum, s"$nTri")
    m.add(docs)
    m.retracted ++= retract.map(_.id)

    val status = call("Materialize.readMergedPred")(
      Materialize.readMergedPred(spark, out, DeltaGen.StatusPred).count())
    status.foreach { case (n, _) => check("live status triples", n == m.liveStatus, s"$n != ${m.liveStatus}") }
    val lookups = Seq(m.docs(rnd.nextInt(m.docs.size))).flatMap { d =>
      call("Materialize.readMerged")(
        Materialize.readMerged(spark, out).filter(col("subj") === d.subj).count()).map { r =>
        check("triples of a document", r._1 == m.subjTriples(d), s"${r._1} != ${m.subjTriples(d)}")
        r._2
      }
    }
    Some(Step(batchS, status.map(_._2).toSeq ++ lookups, nTri, ingestS, nRej,
      app.map(_._2).toSeq ++ (if (compacted) Nil else merge.map(_._2).toSeq),
      if (compacted) merge.map(_._2) else None, appendedB, rewrittenB))
  }

  /** One compaction cycle, with the share of host CPU stolen during it. */
  private final case class Cycle(steps: Seq[Step], wallS: Double, steal: Double)

  private def cycle(ctx: Ctx, spark: SparkSession, out: String, m: Model, first: Int): Option[Cycle] = {
    val cpu0 = Stats.cpuTimes()
    val t0 = System.nanoTime()
    val steps = scala.collection.mutable.ArrayBuffer.empty[Step]
    // (a cycle ends at its compaction, or after 16 steps if none comes)
    while (!steps.lastOption.exists(_.compactS.isDefined) && steps.size < 16) {
      step(ctx, spark, out, m, ctx.seed, first + steps.size, measured = true) match {
        case Some(s) => steps += s
        case None    => return None
      }
    }
    Some(Cycle(steps.toVector, (System.nanoTime() - t0) / 1e9, Stats.stealSince(cpu0)))
  }

  def run(ctx: Ctx): Unit = {
    val w = ctx.work.toString
    val t0 = System.nanoTime()
    val spark = ctx.session(4)
    ctx.trace.time("setup/warm") {
      val wm = buildBase(spark, ctx.seed + 1, s"$w/warm", BatchDocs)
      (0 until WarmSteps).foreach(k =>
        step(ctx, spark, s"$w/warm", wm, ctx.seed + 1, k, measured = false, compactEvery = Some(4)))
    }
    val once = (System.nanoTime() - t0) / 1e9
    val bases = (1 to 3).map(k =>
      ctx.trace.time("setup/base")(buildBase(spark, ctx.seed, s"$w/base-$k", BaseDocs)))
    ctx.e2e("setup_s") = once + Stats.median(bases.map(_._2))
    val (model, out) = (bases.last._1, s"$w/base-3")

    // the loop runs whole compaction cycles (steps up to and including one
    // that compacts), so every cycle holds the same mix of appends and
    // compactions, until the window has passed; one more when the host stole
    // more than Stats.StealLimit of the CPU in every cycle so far. The least
    // disturbed cycle is reported.
    val cycles = scala.collection.mutable.ArrayBuffer.empty[Cycle]
    val loop0 = System.nanoTime()
    var more = true
    while (more) {
      cycle(ctx, spark, out, model, cycles.map(_.steps.size).sum) match {
        case Some(c) => cycles += c
        case None    => more = false
      }
      val elapsed = (System.nanoTime() - loop0) / 1e9
      more = more && (elapsed < ctx.seconds ||
        (cycles.size < 2 && cycles.forall(_.steal > Stats.StealLimit)))
    }
    if (cycles.isEmpty) return
    val best = cycles.minBy(_.steal)
    val steps = best.steps

    ctx.op("Materialize.compact")(Materialize.compact(spark, out)).foreach { _ =>
      val n = Materialize.readMerged(spark, out).count()
      val want = model.total - model.retracted.size
      ctx.check("graph after the final compaction", n == want, s"$n != $want")
    }
    val sample = model.docs.take(10).map(_.text)
    sample.foreach(d => ctx.check("document round-trips", Kernel.roundTrips(d, Prefixes), d))

    val reads = steps.flatMap(_.readS)
    ctx.e2e("triples_per_s") = steps.map(_.triples).sum / best.wallS
    ctx.e2e("batch_p50_s") = Stats.median(steps.map(_.batchS))
    ctx.e2e("batch_tail_s") = Stats.tail(steps.map(_.batchS))
    ctx.e2e("read_p50_s") = Stats.median(reads)
    ctx.e2e("read_tail_s") = Stats.tail(reads)
    ctx.info("cycles") =
      cycles.map(c => f"${c.steps.size} steps, ${c.wallS}%.1f s, host steal ${100 * c.steal}%.1f%%")
        .mkString("; ") + "; the least disturbed is reported"
    ctx.info("batch_samples") = steps.size.toString
    ctx.info("read_samples") = reads.size.toString
    ctx.info("graph_rows") = (model.total - model.retracted.size).toString

    if (ctx.trace.enabled) {
      val l = ctx.drained().get
      val readSpans = ctx.trace.spans.filter(s => s.name.startsWith("Materialize.readMerged")).map(_.id).toSet
      val readJobs = l.allJobs.filter(j => readSpans(j.span))
      val compacts = steps.flatMap(_.compactS)
      def meanMs(xs: collection.Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size * 1000
      ctx.layers("ingest.ms") = meanMs(steps.map(_.ingestS))
      ctx.layers("ingest.rejects") = steps.map(_.rejects).sum.toDouble / steps.size
      ctx.layers("lsm.append_ms") = meanMs(steps.flatMap(_.appendS))
      ctx.layers("lsm.compact_ms") = meanMs(compacts)
      ctx.layers("lsm.compactions") = compacts.size
      ctx.layers("lsm.write_amp") =
        steps.map(_.rewrittenB).sum.toDouble / math.max(steps.map(_.appendedB).sum, 1L)
      ctx.layers("lsm.read_jobs") = readJobs.size.toDouble / math.max(readSpans.size, 1)
      ctx.layers("lsm.read_shuffle_b") =
        l.stagesOf(readJobs).map(_.shuffleWriteB).sum.toDouble / math.max(readSpans.size, 1)
      val (parse, write) = ctx.trace.time("turtle.kernel")(
        Kernel.throughput(model.docs.take(200).map(_.text), Prefixes, 1.0))._1
      ctx.layers("turtle.parse_mb_per_s") = parse
      ctx.layers("turtle.write_mb_per_s") = write
    }
  }
}
