package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Extract, Linking, Materialize, PageGen, Pipeline, TripleEmit, WebPage}

/** `build`: `Pipeline.run` on a seeded page table that set-up writes to
  * parquet, as production reads its input table, then merge-on-read reads of
  * the built graph. Traced runs add the one-thread weak-scaling leg.
  */
object Build {
  /** Pages of the four-thread job; the one-thread leg runs a quarter. */
  val Pages = 8000L
  val Entities = 1000
  private val WarmPages = 1000L

  /** Pipeline stage → metric prefix. */
  val Stages: Seq[(String, String)] = Seq(
    "pages" -> "pages", "extracted" -> "extract", "mentions" -> "mentions", "links" -> "linking",
    "canonical" -> "canonical", "linked" -> "linked", "emit+materialize" -> "emit_materialize")

  private val Preds = Seq("http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
    TripleEmit.Kg + "lang", TripleEmit.Kg + "fetchedAt", TripleEmit.Kg + "mentions",
    TripleEmit.Kg + "label")
  private val Prefixes = Map("kg" -> TripleEmit.Kg, "xsd" -> TripleEmit.Xsd)
  private val Lookups = 31

  /** First page id of a seed's table: seeds select disjoint page ranges. */
  private def firstPage(seed: Long): Long = Math.floorMod(seed, 1000000L) * 1000003L

  private def writePages(spark: SparkSession, first: Long, n: Long, dir: String): Unit = {
    import spark.implicits._
    spark.range(first, first + n).mapPartitions(_.map(i => PageGen.page(i, Entities)))
      .write.mode("overwrite").parquet(dir)
  }

  def run(ctx: Ctx): Unit = {
    val w = ctx.work.toString
    val first = firstPage(ctx.seed)
    val t0 = System.nanoTime()
    // JIT and codegen are paid once per JVM: warm every measured path first
    val spark = ctx.session(4)
    ctx.trace.time("setup/warm") {
      writePages(spark, firstPage(ctx.seed + 1), WarmPages, s"$w/warm-in")
      Pipeline.run(spark, WarmPages, Entities, s"$w/warm",
        inputPages = Some(spark.read.parquet(s"$w/warm-in")))
      reads(ctx, spark, s"$w/warm/graph", Seq(PageGen.pageUrl(firstPage(ctx.seed + 1))), None)
    }
    val once = (System.nanoTime() - t0) / 1e9
    val gens = (1 to 3).map(k =>
      ctx.trace.time("setup/input")(writePages(spark, first, Pages, s"$w/input-$k"))._2)
    ctx.e2e("setup_s") = once + Stats.median(gens)
    val input = spark.read.parquet(s"$w/input-3")

    // measured sections, each one Pipeline.run and the reads of its graph,
    // until the window has passed; one more when the host stole more than
    // Stats.StealLimit of the CPU in every section so far. The least
    // disturbed section is reported.
    val sections = scala.collection.mutable.ArrayBuffer.empty[Section]
    val loop0 = System.nanoTime()
    var more = true
    while (more) {
      section(ctx, spark, input, first, s"$w/out-${sections.size}") match {
        case Some(r) => sections += r
        case None    => more = false
      }
      val elapsed = (System.nanoTime() - loop0) / 1e9
      more = more && (elapsed < ctx.seconds ||
        (sections.size < 2 && sections.forall(_.steal > Stats.StealLimit)))
    }
    if (sections.isEmpty) return
    val best = sections.minBy(_.steal)
    val readS = best.readS
    val tps = best.summary.graphRows / best.wallS
    ctx.e2e("triples_per_s") = tps
    ctx.e2e("batch_p50_s") = best.wallS
    ctx.e2e("batch_tail_s") = best.wallS
    ctx.e2e("read_p50_s") = Stats.median(readS)
    ctx.e2e("read_tail_s") = Stats.tail(readS)
    ctx.info("pages") = Pages.toString
    ctx.info("graph_rows") = sections.head.summary.graphRows.toString
    ctx.info("sections") =
      sections.map(r => f"${r.wallS}%.1f s, host steal ${100 * r.steal}%.1f%%").mkString("; ") +
        "; the least disturbed is reported"
    ctx.info("read_samples") = readS.size.toString
    checks(ctx, spark, input, first, Pages, sections.map(_.summary).toSeq)
    if (ctx.trace.enabled) {
      traced(ctx, spark, sections.head.summary, s"$w/out-0", first, Pages)
      weakScaling(ctx, first, tps)
    }
  }

  /** One measured `Pipeline.run` with the reads of its graph, and the share
    * of host CPU stolen meanwhile.
    */
  private final case class Section(summary: Pipeline.Summary, wallS: Double, readS: Seq[Double],
      steal: Double)

  private def section(ctx: Ctx, spark: SparkSession, input: DataFrame, first: Long,
      out: String): Option[Section] = {
    val cpu0 = Stats.cpuTimes()
    ctx.op("Pipeline.run")(Pipeline.run(spark, Pages, Entities, out, inputPages = Some(input)))
      .map { case (summary, wall) =>
        val urls = (0 until Lookups).map(j => PageGen.pageUrl(first + j * (Pages / Lookups) + 7))
        val readS = reads(ctx, spark, s"$out/graph", urls, Some((Pages, summary.graphRows)))
        Section(summary, wall, readS, Stats.stealSince(cpu0))
      }
  }

  /** The weak-scaling leg (traced runs): a quarter of the pages on one
    * thread, in a fresh session of the same warm JVM.
    */
  private def weakScaling(ctx: Ctx, first: Long, tps: Double): Unit = {
    val w = ctx.work.toString
    val spark = ctx.session(1)
    val quarter = Pages / 4
    writePages(spark, first, quarter, s"$w/input-1t")
    ctx.op("Pipeline.run[1t]")(Pipeline.run(spark, quarter, Entities, s"$w/out-1t",
      inputPages = Some(spark.read.parquet(s"$w/input-1t")))).foreach { case (s, t) =>
      recorded(ctx, s"build-$quarter", s.graphRows)
      val tps1 = s.graphRows / t
      ctx.info("graph_rows_1t") = s.graphRows.toString
      ctx.info("weak_scaling_eff") = f"${tps / (4 * tps1)}%.4f (triples_per_s / (4 x 1-thread triples_per_s))"
      ctx.layers("build_1t.triples_per_s") = tps1
      ctx.layers("build_1t.wall_ms") = t * 1000
      ctx.layers("weak_scaling_eff") = tps / (4 * tps1)
    }
  }

  /** The same seed and size must give the same graph in every run of the
    * benchmark: the first run in a checkout records it.
    */
  private def recorded(ctx: Ctx, name: String, rows: Long): Unit = {
    val key = ctx.expect.resolve(s"$name-$Entities-seed${ctx.seed}.rows")
    if (java.nio.file.Files.exists(key)) {
      val want = new String(java.nio.file.Files.readAllBytes(key)).trim.toLong
      ctx.check(s"$name graph rows equal the recorded run", rows == want, s"$rows != $want")
    } else java.nio.file.Files.write(key, rows.toString.getBytes)
  }

  /** Merge-on-read calls against a built graph: one `readMergedPred` per
    * predicate, then one `readMerged` point lookup per page url. Measured
    * calls (`expect` = pages, graph rows) are checked and their walls
    * returned; warm-up calls are only timed.
    */
  private def reads(ctx: Ctx, spark: SparkSession, graph: String, urls: Seq[String],
      expect: Option[(Long, Long)]): Seq[Double] = {
    def call[A](name: String)(f: => A): Option[(A, Double)] =
      if (expect.isEmpty) Some(ctx.trace.time(s"setup/$name")(f)) else ctx.op(name)(f)
    val preds = Preds.flatMap { p =>
      call("Materialize.readMergedPred")(Materialize.readMergedPred(spark, graph, p).count())
        .map(p -> _)
    }
    val lookups = urls.flatMap { u =>
      call("Materialize.readMerged")(
        Materialize.readMerged(spark, graph).filter(col("subj") === s"<$u>").count()).map(u -> _)
    }
    expect.foreach { case (pages, rows) =>
      // one type, lang and fetchedAt triple per page; the predicates
      // partition the graph; a page has its 3 metadata triples plus at most
      // 4 mentions (3 planted, 1 hot)
      preds.take(3).foreach { case (p, (n, _)) => ctx.check(s"pages with $p", n == pages, s"$n != $pages") }
      val sum = preds.map(_._2._1).sum
      ctx.check("predicate counts sum to graph rows", preds.size == Preds.size && sum == rows,
        s"$sum != $rows")
      lookups.foreach { case (u, (n, _)) => ctx.check(s"triples of $u", n >= 3 && n <= 7, s"$n") }
    }
    (preds ++ lookups).map(_._2._2)
  }

  /** Output checks of the measured runs (each counts in `error_rate`). */
  private def checks(ctx: Ctx, spark: SparkSession, input: DataFrame, first: Long, pages: Long,
      summaries: Seq[Pipeline.Summary]): Unit = {
    import spark.implicits._
    val rows = summaries.head.graphRows
    summaries.foreach(s => ctx.check("graph rows equal across runs", s.graphRows == rows,
      s"${s.graphRows} != $rows"))
    ctx.check("pages stage rows", summaries.head.stageRows.get("pages").contains(pages),
      summaries.head.stageRows.toString)
    recorded(ctx, s"build-$pages", rows)

    val sample = input.as[WebPage].where(pmod(xxhash64(col("url")), lit(20)) === 0)
    val bad = Extract.verifyAgainstOracle(sample)
    ctx.check("Extract.verifyAgainstOracle on a sample", bad == 0L, s"$bad rows differ")

    // link precision and recall against the planted mentions, with shared
    // aliases resolved to their cluster representative
    val canon: Map[String, String] = (0 until Entities).filter(_ % 10 == 0)
      .groupBy(k => PageGen.sharedAlias(k).get).values
      .flatMap { ks => val iris = ks.map(PageGen.entityIri); iris.map(_ -> iris.min) }.toMap
    val ids = (0L until 300L).map(j => first + j * (pages / 300))
    val planted = ids.flatMap { n =>
      val hot = if (n % 10 == 0) Seq(0) else Nil
      (PageGen.plannedMentions(n, Entities).map(_._1) ++ hot).distinct.map { k =>
        val iri = PageGen.entityIri(k)
        (PageGen.pageUrl(n), canon.getOrElse(iri, iri))
      }
    }.toSet
    val linked = spark.read.parquet(s"${ctx.work}/out-0/_stages/linked")
      .where(col("url").isin(ids.map(PageGen.pageUrl): _*))
      .select($"url", $"canonical_iri", $"label").distinct().as[(String, String, String)].collect()
    val got = linked.map(r => (r._1, r._2)).toSet
    val tp = (got intersect planted).size.toDouble
    val precision = tp / math.max(got.size, 1)
    val recall = tp / planted.size
    ctx.check("link precision >= 0.95", precision >= 0.95, f"$precision%.4f")
    ctx.check("link recall >= 0.95", recall >= 0.95, f"$recall%.4f")
    ctx.info("link_precision") = f"$precision%.4f"
    ctx.info("link_recall") = f"$recall%.4f"

    // the emitted page documents round-trip through the kernel
    docs(linked, ids.take(50)).foreach(d =>
      ctx.check("page document round-trips", Kernel.roundTrips(d, Prefixes), d))
  }

  /** The Turtle document the emitter writes for each page of `ids`. */
  private def docs(linked: Array[(String, String, String)], ids: Seq[Long]): Seq[String] = {
    val byUrl = linked.groupBy(_._1)
    ids.map { n =>
      val url = PageGen.pageUrl(n)
      TripleEmit.turtleForPage(url, PageGen.pageTs(n).getTime, PageGen.pageLang(n),
        byUrl.getOrElse(url, Array.empty).toSeq.map(r => (r._2, r._3)).sorted)
    }
  }

  /** Per-layer figures of the first measured run, from its spans and jobs. */
  private def traced(ctx: Ctx, spark: SparkSession, s: Pipeline.Summary, out: String,
      first: Long, pages: Long): Unit = {
    import spark.implicits._
    val l = ctx.drained().get
    val runSpan = ctx.trace.spans.find(_.name == "Pipeline.run").get
    val jobs = l.allJobs.filter(_.span == runSpan.id)
    Stages.foreach { case (stage, prefix) =>
      val js = jobs.filter(_.tag.contains(stage))
      val st = l.stagesOf(js)
      val wall = s.stageWallMs.getOrElse(stage, 0L).toDouble
      ctx.layers(s"$prefix.wall_ms") = wall
      ctx.layers(s"$prefix.driver_ms") = math.max(0.0, wall - Layers.covered(js))
      ctx.layers(s"$prefix.jobs") = js.size
      ctx.layers(s"$prefix.task_cpu_ms") = st.map(_.cpuMs).sum
      ctx.layers(s"$prefix.gc_ms") = st.map(_.gcMs).sum
      ctx.layers(s"$prefix.shuffle_write_b") = st.map(_.shuffleWriteB).sum
      ctx.layers(s"$prefix.spill_b") = st.map(_.spillB).sum
      ctx.layers(s"$prefix.task_skew") = Layers.skew(st)
      ctx.layers(s"$prefix.rows") =
        (if (stage == "emit+materialize") s.graphRows else s.stageRows.getOrElse(stage, 0L)).toDouble
    }
    val mentions = spark.read.parquet(s"$out/_stages/mentions")
    val cands = ctx.trace.time("Linking.block")(
      Linking.block(mentions.select("mention_id", "surface"), PageGen.dictionary(spark, Entities))
        .count())._1
    ctx.layers("linking.candidates_per_mention") = cands.toDouble / math.max(mentions.count(), 1L)
    ctx.layers("snapshots.bytes") = Stats.files(java.nio.file.Paths.get(s"$out/_stages")).values.sum
    ctx.layers("graph.files") = Stats.files(java.nio.file.Paths.get(s"$out/graph")).keys.count(Stats.isData)
    val ids = (0L until 200L).map(j => first + j * (pages / 200))
    val linked = spark.read.parquet(s"$out/_stages/linked")
      .where(col("url").isin(ids.map(PageGen.pageUrl): _*))
      .select($"url", $"canonical_iri", $"label").distinct().as[(String, String, String)].collect()
    val (parse, write) = ctx.trace.time("turtle.kernel")(
      Kernel.throughput(docs(linked, ids), Prefixes, 1.0))._1
    ctx.layers("turtle.parse_mb_per_s") = parse
    ctx.layers("turtle.write_mb_per_s") = write
  }
}
