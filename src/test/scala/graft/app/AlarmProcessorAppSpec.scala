package graft.app

import java.nio.file.{Files, Paths => JPaths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * The app's per-trigger fixed cost, pinned structurally: a trigger that
 * picks up more new files than Spark's parallel-listing threshold (32)
 * must stat them in-process instead of launching a "Listing leaf
 * files" job, and the `main` query must read one overrides source and run
 * one expiry operator (3 sources, 2 state operators).
 */
class AlarmProcessorAppSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ThresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  test("a trigger of 40 activation files runs no listing job; main has 3 sources, 2 state operators") {
    import spark.implicits._
    val paths = AlarmProcessorApp.Paths(Files.createTempDirectory("graft-app-spec").toString)
    paths.mkdirs()
    def write(dir: String, name: String, lines: Seq[String]): Unit =
      Files.writeString(JPaths.get(dir, name), lines.mkString("", "\n", "\n"))

    val alarms = (0 until 40).map(i => s"a$i")
    write(paths.classes, "c.json",
      Seq("""{"seq":1,"name":"base","latchable":false,"filterable":true,"priority":"P3"}"""))
    write(paths.instances, "i.json", alarms.zipWithIndex.map { case (a, i) =>
      s"""{"seq":${i + 1},"name":"$a","action":"base","tombstone":false}""" })
    // one file per activation, all present before the first trigger
    val expected = alarms.zipWithIndex.map { case (a, i) =>
      val union = if (i % 2 == 0) "Activation" else "NoActivation"
      write(paths.activations, s"act$i.json",
        Seq(s"""{"seq":${100 + i},"name":"$a","union":"$union"}"""))
      a -> (if (i % 2 == 0) "Active" else "Normal")
    }.toMap

    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(jobs.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val app = AlarmProcessorApp.start(spark, paths)
    try {
      def latest(): Map[String, String] = scala.util.Try {
        spark.read.parquet(paths.effective)
          .groupBy("name").agg(org.apache.spark.sql.functions.max_by($"state", $"emit_seq"))
          .as[(String, String)].collect().toMap
      }.getOrElse(Map.empty)
      val deadline = System.currentTimeMillis() + 60000
      var cur = latest()
      while (cur != expected && System.currentTimeMillis() < deadline) {
        Thread.sleep(300); cur = latest()
      }
      assert(cur == expected, s"effective state: ${cur.toSeq.sorted}")

      // the sinks are written before the batch's progress is reported
      def activationBatch = app.mainQuery.recentProgress.find(
        _.sources.exists(s => s.description.contains("activations") && s.numInputRows >= 40))
      while (activationBatch.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(activationBatch.isDefined, "the 40 activation files did not land in one trigger")

      val listing = jobs.asScala.filter(_.startsWith("Listing leaf files")).toSeq
      assert(listing.isEmpty, s"parallel listing jobs ran: $listing")

      val last = app.mainQuery.lastProgress
      assert(last.sources.length == 3, last.sources.map(_.description).mkString("; "))
      assert(last.stateOperators.length == 2, last.stateOperators.map(_.operatorName).mkString("; "))
    } finally {
      app.stop()
      spark.sparkContext.removeSparkListener(listener)
      // the pin outlives the app on purpose; later suites share this session
      spark.conf.unset(ThresholdKey)
    }
  }
}
