package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** `queries` (run by hand; BENCHMARK.json does not list it): one pass over
  * the SparkEntry leaves the ROADMAP targets, on the fixed seed-42 test
  * tables under `perfbench/data` (copied unchanged), warmed at sf0.001 and
  * measured at sf0.1. The tables are fixed, so `--seed` does not vary the
  * inputs. Each result is checked against its recorded digest.
  */
object Queries {
  val Leaves: Seq[String] = Seq("kg01_parse_turtle", "kg04_cc", "kg28_lsm_merge",
    "kg34_ttl_roundtrip", "kg36_lsm_tombstones", "kg66_sparql_text", "kg67_sameas_canon_delta",
    "kg72_incr_pagerank", "kg81_sum_view_maintenance", "kg82_max_view_maintenance",
    "kg83_stream_view_serve", "emb19_ann_ivf_delta", "emb20_ann_time_travel",
    "td09_minhash_pairs", "td14_dedup_clusters")

  /** Order-independent digest: row count and the exact sum of row hashes. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def run(ctx: Ctx, data: String): Unit = {
    val t0 = System.nanoTime()
    val spark = ctx.session(4)
    Leaves.foreach(q =>
      ctx.trace.time(s"setup/$q")(digest(graft.SparkEntry.queries(q)(spark, s"$data/sf0.001"))))
    ctx.e2e("setup_s") = (System.nanoTime() - t0) / 1e9

    val recordedPath = java.nio.file.Paths.get(data, "digests.tsv")
    val recorded =
      if (!java.nio.file.Files.exists(recordedPath)) Map.empty[String, String]
      else scala.io.Source.fromFile(recordedPath.toFile).getLines()
        .map(_.split("\t")).collect { case Array(q, d) => q -> d }.toMap
    var total = 0.0
    val results = Leaves.flatMap { q =>
      ctx.op(s"q.$q")(digest(graft.SparkEntry.queries(q)(spark, s"$data/sf0.1"))).map { case (d, s) =>
        total += s
        ctx.check(s"$q digest", recorded.get(q).contains(d), s"$d, recorded ${recorded.get(q)}")
        (q, d, s)
      }
    }
    ctx.e2e("queries_total_s") = total
    ctx.info("digests") = results.map { case (q, d, _) => s"$q=$d" }.mkString(" ")
    if (ctx.trace.enabled) {
      val l = ctx.drained().get
      val spans = ctx.trace.spans.filter(_.name.startsWith("q.")).map(s => s.name -> s.id).toMap
      results.foreach { case (q, _, s) =>
        val short = q.takeWhile(_ != '_')
        ctx.layers(s"q.$short.s") = s
        ctx.layers(s"q.$short.jobs") = l.allJobs.count(_.span == spans(s"q.$q")).toDouble
      }
    }
  }
}
