package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[SnapshotStore]] commits: the read-back frame and row count a commit
  * returns, and what a resumed run serves.
  */
class SnapshotStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Pipeline.sparkSession("local[4]", 8, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def withRoot(f: String => Unit): Unit = {
    val root = Files.createTempDirectory("graft-snaps").toString
    try f(root) finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** Rows as comparable value lists (binary columns by content). */
  private def values(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq.toString
      case v              => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  test("a commit reads back the schema a parquet read infers, and counts its rows") {
    import spark.implicits._
    withRoot { root =>
      val snaps = new SnapshotStore(root, spark)
      val frames = Seq(
        "pages" -> PageGen.pages(spark, 5L, 10).toDF(),
        "links" -> Seq(Candidate(1L, "e", 0.5), Candidate(2L, null, 0.25)).toDS().toDF(),
        "nested" -> Seq((1L, Seq(Some(1), None), Map("k" -> Seq(1.0)), (2, "x")))
          .toDF("id", "arr", "map", "pair"),
        "empty" -> Seq.empty[Mention].toDS().toDF())
      frames.foreach { case (stage, df) =>
        val (back, rows) = snaps.run(stage)(df)
        assert(back.schema == spark.read.parquet(s"$root/$stage").schema, stage)
        assert(rows == df.count(), stage)
        assert(values(back) == values(df), stage)
      }
    }
  }

  test("a resumed stage reports its manifest row count and never recomputes") {
    withRoot { root =>
      val (_, rows) = new SnapshotStore(root, spark, "job=1").run("s")(spark.range(37).toDF())
      val (df, resumed) = new SnapshotStore(root, spark, "job=1")
        .run("s")(fail("a committed stage was recomputed"))
      assert(rows == 37L && resumed == 37L && df.count() == 37L)
    }
  }
}
