package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/**
 * The traced run's listeners: a SparkListener (jobs, stages, task
 * metrics, and each SQL execution's planning phases) and a
 * StreamingQueryListener (micro-batch progress). Registered only with
 * `--trace 1`, so the end-to-end run carries none of their cost. Every
 * callback times itself; the sum is reported as `trace.callback_ms`.
 *
 * Planning is read from the QueryExecution that the SQL execution-end
 * event carries (the object a QueryExecutionListener receives), because
 * that event also carries the execution id the jobs are tagged with;
 * a QueryExecutionListener gets no such id.
 */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageAgg]()
  private val planningMs = mutable.HashMap[Long, Double]() // SQL execution id -> ms
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  @volatile private var callbackNs = 0L

  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally synchronized { callbackNs += System.nanoTime() - t0 }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
      Trace.this.synchronized {
        jobs(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id"), prop("spark.job.description"),
          prop("spark.sql.execution.id").toLongOption.getOrElse(-1L), e.time.toDouble, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Trace.this.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      Trace.this.synchronized {
        val s = stages.getOrElseUpdate(i.stageId, new StageAgg)
        i.submissionTime.foreach(t => s.startMs = t.toDouble)
        i.completionTime.foreach(t => s.endMs = t.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => timed {
        // `qe` is private[sql] (public in bytecode).
        val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
        if (qe != null) {
          val ms = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
          Trace.this.synchronized { planningMs(end.executionId) = ms }
        }
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed { Trace.this.synchronized { progress += e.progress } }
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Detach the listeners after draining the listener bus. */
  def uninstall(): Unit = {
    Trace.drainBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def callbackMs: Double = callbackNs / 1e6
  def streamProgress: Seq[StreamingQueryProgress] = synchronized(progress.toList)

  def byGroup: Map[String, GroupAgg] = synchronized {
    jobs.values.groupBy(_.group).map { case (g, js) =>
      val ss = js.flatMap(_.stages).toSet.toSeq.flatMap(stages.get)
      val plan = js.map(_.execId).filter(_ >= 0).toSet.toSeq.flatMap(planningMs.get).sum
      g -> GroupAgg(js.size, ss.map(_.tasks).sum, ss.map(_.cpuNs).sum / 1e9,
        ss.map(_.gcMs).sum / 1e3, if (ss.isEmpty) 0.0 else ss.map(_.maxTaskMs).max.toDouble,
        ss.map(_.shuffleBytes).sum.toDouble, ss.map(_.spillBytes).sum.toDouble, plan)
    }
  }

  /** Job and stage spans under `parentOf(job)`; jobs with no parent are skipped. */
  def addJobSpans(spans: Spans, parentOf: JobRec => Option[Long]): Unit = synchronized {
    jobs.values.foreach { j =>
      parentOf(j).foreach { parent =>
        val end = if (j.endMs.isNaN) j.startMs else j.endMs
        val jid = spans.add(parent, "job", s"job ${j.id}", j.startMs, end)
        j.stages.flatMap(s => stages.get(s).map(s -> _)).foreach { case (sid, s) =>
          if (!s.startMs.isNaN && !s.endMs.isNaN)
            spans.add(jid, "stage", s"stage $sid", s.startMs, s.endMs,
              Map("tasks" -> s.tasks.toDouble, "cpu_s" -> s.cpuNs / 1e9,
                "shuffle_bytes" -> s.shuffleBytes.toDouble))
        }
      }
    }
  }
}

object Trace {
  final class StageAgg {
    var startMs = Double.NaN; var endMs = Double.NaN
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L; var maxTaskMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }
  final case class JobRec(id: Int, group: String, desc: String, execId: Long,
      startMs: Double, stages: Seq[Int]) { var endMs = Double.NaN }

  /** Per job group: compute and driver counters summed over its jobs. */
  final case class GroupAgg(jobs: Int, tasks: Long, cpuS: Double, gcS: Double,
      maxTaskMs: Double, shuffleBytes: Double, spillBytes: Double, planningMs: Double)

  /** Wait until every event posted so far reached the listeners. */
  def drainBus(spark: SparkSession): Unit = {
    // listenerBus is private[spark] but public in bytecode.
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(30000L))
  }
}
