package graft.pipeline

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Job-count guards for [[Pipeline.run]], keyed on the `graft.stage`
  * property: the per-job fixed cost dominates the small stages, so the
  * number of jobs is the mechanism to pin.
  */
class StageJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Pipeline.sparkSession("local[4]", 8, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("a shuffle-free snapshot stage commits in one job; links runs at most 6") {
    val sc = spark.sparkContext
    val run = java.util.UUID.randomUUID().toString
    val jobs = mutable.Map.empty[String, Int]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).filter(_.getProperty("graft.test.run") == run)
          .flatMap(p => Option(p.getProperty("graft.stage")))
          .foreach(s => jobs.synchronized(jobs(s) = jobs.getOrElse(s, 0) + 1))
    }
    val out = Files.createTempDirectory("graft-jobs").toString
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.run", run)
    try {
      Pipeline.run(spark, 100L, 60, out)
      TestListenerBus.drain(sc)
    } finally {
      sc.setLocalProperty("graft.test.run", null)
      sc.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
    val perStage = jobs.synchronized(jobs.toMap)
    Seq("pages", "extracted", "mentions").foreach(s =>
      assert(perStage.get(s).contains(1), s"$s: $perStage"))
    assert(perStage.get("links").exists(_ <= 6), s"links: $perStage")
  }
}
