package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.IvfStore

/** The [[PartitionedLsm]] rules, checked once per store configuration:
  * triples and quads ([[Materialize]]) and IVF cells ([[IvfStore]]). Each
  * store is driven through its own public API; a fact is an id placed in
  * partition 0 or 1, which the adapter maps to the store's layout.
  */
class PartitionedLsmSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Pipeline.sparkSession("local[4]", 8, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val ts = new Timestamp(0L)

  private abstract class Store(val name: String, val partCol: String) {
    def write(out: String, facts: Seq[(Long, Int)]): Unit
    /** One delta batch of (id, partition, op). */
    def batch(out: String, ops: Seq[(Long, Int, String)]): Unit
    /** Every empty-append entry point the store has. */
    def emptyAppends(out: String): Unit
    def live(out: String, asOf: Option[Long] = None): Set[Long]
    def merged(out: String): DataFrame
    def compact(out: String): Unit
    def batches(out: String): Int
    def partDir(out: String, part: Int): String
  }

  private lazy val graphPreds: Seq[String] = {
    def ph(p: String): Long = spark.range(1)
      .select(pmod(xxhash64(lit(p)), lit(Materialize.DefaultPredBuckets))).collect()(0).getLong(0)
    val cands = Seq("<p:a>", "<p:b>", "<p:c>", "<p:d>")
    Seq(cands.head, cands.find(c => ph(c) != ph(cands.head)).get)
  }

  private def predHash(part: Int): Long = spark.range(1)
    .select(pmod(xxhash64(lit(graphPreds(part))), lit(Materialize.DefaultPredBuckets)))
    .collect()(0).getLong(0)

  private def ids(df: DataFrame, c: String): Set[Long] =
    df.select(c).collect().map(_.getString(0).stripPrefix("<s").stripSuffix(">").toLong).toSet

  private object Triples extends Store("triples", "pred_hash") {
    import Materialize._
    private def rows(ops: Seq[(Long, Int, String)]) = {
      val s = spark
      import s.implicits._
      ops.map { case (id, p, op) => (s"<s$id>", graphPreds(p), "\"o\"", s"u$id", ts, op) }
        .toDF("subj", "pred", "obj", "src_url", "warc_ts", "op")
    }
    def write(out: String, facts: Seq[(Long, Int)]): Unit = {
      val s = spark
      import s.implicits._
      Materialize.write(rows(facts.map(f => (f._1, f._2, OpAdd))).drop("op").as[TripleRow], out)
    }
    def batch(out: String, ops: Seq[(Long, Int, String)]): Unit =
      appendDeltaOps(spark, out, rows(ops))
    def emptyAppends(out: String): Unit = {
      appendDeltaOps(spark, out, rows(Nil))
      appendDelta(spark, out,
        spark.emptyDataset[TripleRow](org.apache.spark.sql.Encoders.product[TripleRow]))
    }
    def live(out: String, asOf: Option[Long]): Set[Long] =
      ids(asOf.fold(readMerged(spark, out))(readAsOf(spark, out, _)), "subj")
    def merged(out: String): DataFrame = readMerged(spark, out)
    def compact(out: String): Unit = Materialize.compact(spark, out)
    def batches(out: String): Int = deltaBatchCount(spark, out)
    def partDir(out: String, part: Int): String = s"$out/pred_hash=${predHash(part)}"
  }

  private object Quads extends Store("quads", "pred_hash") {
    import Materialize._
    private def rows(ops: Seq[(Long, Int, String)]) = {
      val s = spark
      import s.implicits._
      ops.map { case (id, p, op) => ("<g:1>", s"<s$id>", graphPreds(p), "\"o\"", s"u$id", ts, op) }
        .toDF("graph", "subj", "pred", "obj", "src_url", "warc_ts", "op")
    }
    def write(out: String, facts: Seq[(Long, Int)]): Unit =
      writeQuads(rows(facts.map(f => (f._1, f._2, OpAdd))).drop("op"), out)
    def batch(out: String, ops: Seq[(Long, Int, String)]): Unit =
      appendQuadDeltaOps(spark, out, rows(ops))
    def emptyAppends(out: String): Unit = appendQuadDeltaOps(spark, out, rows(Nil))
    // quad tables have no public as-of reader: read through their core
    def live(out: String, asOf: Option[Long]): Set[Long] =
      ids(Materialize.Quads.mergedRead(spark, out, asOf), "subj")
    def merged(out: String): DataFrame = readMergedQuads(spark, out)
    def compact(out: String): Unit = compactQuads(spark, out)
    def batches(out: String): Int = deltaBatchCount(spark, out)
    def partDir(out: String, part: Int): String = s"$out/pred_hash=${predHash(part)}"
  }

  private object Ivf extends Store("ivf", "cell") {
    // cell k's centroid is (±1000, 0) on the ×1000 grid: a fact's vector
    // sits exactly on its partition's centroid
    private val cents = Array(Array(1000L, 0L), Array(-1000L, 0L))
    private def x(part: Int) = cents(part)(0)
    def write(out: String, facts: Seq[(Long, Int)]): Unit = {
      val s = spark
      import s.implicits._
      IvfStore.write(facts.map { case (id, p) => (id, Seq(x(p) / 1000.0, 0.0)) }
        .toDF("vec_id", "embedding"), out, cents, dims = 2)
    }
    // mixed add/del batches have no public entry point (appendVectors
    // adds, deleteVectors deletes): append through the store's core
    def batch(out: String, ops: Seq[(Long, Int, String)]): Unit = {
      val s = spark
      import s.implicits._
      IvfStore.Store.append(spark, out, ops.map { case (id, p, op) =>
        (id, Seq(x(p), 0L), x(p) * x(p), p.toLong, op)
      }.toDF("vec_id", "g", "n", "cell", "op"))
    }
    def emptyAppends(out: String): Unit = {
      val s = spark
      import s.implicits._
      IvfStore.appendVectors(spark, out, Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding"))
      IvfStore.deleteVectors(spark, out, Seq.empty[Long].toDF("vec_id"))
    }
    def live(out: String, asOf: Option[Long]): Set[Long] =
      asOf.fold(IvfStore.readMerged(spark, out))(IvfStore.readAsOf(spark, out, _))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    def merged(out: String): DataFrame = IvfStore.readMerged(spark, out)
    def compact(out: String): Unit = IvfStore.compact(spark, out)
    def batches(out: String): Int = IvfStore.deltaBatchCount(spark, out)
    def partDir(out: String, part: Int): String = s"$out/base/cell=$part"
  }

  private def withDir(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_lsm_core_").toString
    try f(s"$dir/t") finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  private def exists(p: String) = new java.io.File(p).exists()

  /** (name, bytes) of every parquet file of one partition dir. */
  private def files(dir: String): Set[(String, Seq[Byte])] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toSet

  for (st <- Seq[Store](Triples, Quads, Ivf)) {
    import PartitionedLsm.{OpAdd => Add, OpDel => Del}

    test(s"${st.name}: latest batch wins, a delete wins within its batch, compact keeps it") {
      withDir { out =>
        st.write(out, Seq(1L -> 0, 2L -> 0, 3L -> 1))
        st.batch(out, Seq((1L, 0, Del), (4L, 0, Add)))
        assert(st.live(out) == Set(2L, 3L, 4L))
        st.batch(out, Seq((1L, 0, Add))) // a newer add outlives the delete
        assert(st.live(out) == Set(1L, 2L, 3L, 4L))
        st.batch(out, Seq((2L, 0, Del), (2L, 0, Add))) // same batch: del wins
        assert(st.live(out) == Set(1L, 3L, 4L))
        assert(st.batches(out) == 3)
        st.compact(out)
        assert(st.batches(out) == 0 && !exists(s"$out/_delta"))
        assert(st.live(out) == Set(1L, 3L, 4L))
      }
    }

    test(s"${st.name}: as-of reads cut the log, negative cuts are rejected, compaction consumes history") {
      withDir { out =>
        st.write(out, Seq(1L -> 0, 2L -> 1))
        st.batch(out, Seq((3L, 0, Add)))
        st.batch(out, Seq((1L, 0, Del)))
        assert(st.live(out, Some(0L)) == Set(1L, 2L))
        assert(st.live(out, Some(1L)) == Set(1L, 2L, 3L))
        assert(st.live(out, Some(2L)) == Set(2L, 3L))
        assert(st.live(out, Some(99L)) == st.live(out))
        intercept[IllegalArgumentException](st.live(out, Some(-1L)))
        st.compact(out)
        assert(st.live(out, Some(0L)) == Set(2L, 3L))
      }
    }

    test(s"${st.name}: an empty append leaves no marker and no _delta dir") {
      withDir { out =>
        st.write(out, Seq(1L -> 0))
        st.emptyAppends(out)
        assert(st.batches(out) == 0 && !exists(s"$out/_delta"))
        assert(st.live(out) == Set(1L))
        st.compact(out) // nothing pending: a no-op
        st.batch(out, Seq((2L, 1, Add)))
        st.emptyAppends(out) // an earlier batch's log survives an empty append
        assert(st.batches(out) == 1 && st.live(out) == Set(1L, 2L))
      }
    }

    test(s"${st.name}: compaction deletes an emptied partition and leaves untouched files byte-identical") {
      withDir { out =>
        st.write(out, Seq(1L -> 0, 2L -> 0, 3L -> 1))
        val untouched = files(st.partDir(out, 1))
        st.batch(out, Seq((1L, 0, Del), (2L, 0, Del)))
        st.compact(out)
        assert(!exists(st.partDir(out, 0)), "emptied partition survived compaction")
        assert(files(st.partDir(out, 1)) == untouched, "compaction rewrote an untouched partition")
        assert(st.live(out) == Set(3L))
      }
    }

    test(s"${st.name}: merge-on-read keeps the untouched partitions' branch free of any Exchange") {
      withDir { out =>
        st.write(out, Seq(1L -> 0, 2L -> 1))
        val bare = st.merged(out).queryExecution.executedPlan.toString
        assert(!bare.contains("Exchange"), bare.take(800))
        st.batch(out, Seq((3L, 0, Add)))
        val plan = st.merged(out).queryExecution.executedPlan.toString
        assert(plan.contains("Union"), plan.take(800))
        val exchanges = "Exchange hashpartitioning\\((\\w+)#".r.findAllMatchIn(plan).map(_.group(1)).toSeq
        assert(exchanges == Seq(st.partCol), s"one resolution exchange only:\n${plan.take(2000)}")
      }
    }

    test(s"${st.name}: a fully retracted store reads empty and takes a later append") {
      withDir { out =>
        st.write(out, Seq(1L -> 0, 2L -> 1))
        st.batch(out, Seq((1L, 0, Del), (2L, 1, Del)))
        st.compact(out)
        assert(!exists(st.partDir(out, 0)) && !exists(st.partDir(out, 1)))
        assert(st.live(out).isEmpty)
        st.batch(out, Seq((5L, 1, Add)))
        assert(st.live(out) == Set(5L))
        st.compact(out)
        assert(st.live(out) == Set(5L))
      }
    }
  }

  test("triples: readMergedPred on a fully retracted table reads empty") {
    withDir { out =>
      Triples.write(out, Seq(1L -> 0))
      Triples.batch(out, Seq((1L, 0, Materialize.OpDel)))
      Materialize.compact(spark, out)
      assert(Materialize.readMergedPred(spark, out, graphPreds(0)).count() == 0)
      Triples.batch(out, Seq((2L, 0, Materialize.OpAdd)))
      assert(ids(Materialize.readMergedPred(spark, out, graphPreds(0)), "subj") == Set(2L))
      assert(Materialize.readMergedPred(spark, out, graphPreds(1)).count() == 0)
    }
  }
}
