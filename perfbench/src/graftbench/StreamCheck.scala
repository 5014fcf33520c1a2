package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType

import graft.app.AlarmProcessorApp
import graft.app.AlarmProcessorApp.{ActivationRow, OverrideRow}
import graft.app.UnifiedAlarmRule
import graft.app.UnifiedAlarmRule.{AlarmInput, AlarmKeyState}

/**
 * Stream output check: every alarm's final effective state in the
 * `effective-alarms` sink against a driver-side fold, through
 * `UnifiedAlarmRule.step`, of the records the main query consumed, batch
 * by batch in consumption order (within a batch each alarm's records in
 * (seq, subSeq) order, as the chain sorts them).
 */
object Fold {

  final case class Result(
      alarms: Int,
      mismatches: Seq[String],
      stepUs: Double,
      effectiveRows: Long,
      // (file, record) for every consumed overrides record
      overrides: Seq[(String, AlarmInput)])

  private def norm(f: String) = new java.net.URI(f).getPath

  private def read(spark: SparkSession, files: Seq[String], schema: StructType): DataFrame =
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .withColumn("_f", lit(""))
    else spark.read.schema(schema).json(files: _*)
      .filter(col("seq").isNotNull && col("name").isNotNull)
      .withColumn("_f", input_file_name())

  def check(spark: SparkSession, paths: AlarmProcessorApp.Paths, mainBy: Map[String, Long],
      visible: Map[Long, Double], corrupt: Boolean): Result = {
    import spark.implicits._
    def files(dir: String) = mainBy.keys.filter(_.startsWith(dir + "/")).toSeq
    val regs = read(spark, files(paths.intermediateReg), Encoders.product[AlarmInput].schema)
      .select(struct(Encoders.product[AlarmInput].schema.fieldNames.map(col).toIndexedSeq: _*), $"_f")
      .as[(AlarmInput, String)].collect().map { case (r, f) => (norm(f), r) }
    val acts = read(spark, files(paths.activations), AlarmProcessorApp.activationSchema)
      .select(struct($"seq", $"name", $"union", $"tombstone"), $"_f")
      .as[(ActivationRow, String)].collect().map { case (r, f) => (norm(f), r.toInput) }
    val ovrs = read(spark, files(paths.overrides), AlarmProcessorApp.overrideSchema)
      .filter($"overrideType".isNotNull)
      .select(struct($"seq", $"name", $"overrideType", $"oneshot", $"expiration", $"reason",
        $"tombstone"), $"_f")
      .as[(OverrideRow, String)].collect().map { case (r, f) => (norm(f), r.toInput) }

    val byBatch = (regs ++ acts ++ ovrs).toSeq.groupBy { case (f, _) => mainBy(f) }
    val state = mutable.HashMap[String, AlarmKeyState]()
    val last = mutable.HashMap[String, String]()
    var steps = 0L
    var stepNs = 0L
    byBatch.keys.toSeq.sorted.foreach { b =>
      val now = visible.getOrElse(b, 0.0).toLong
      byBatch(b).map(_._2).groupBy(_.name).foreach { case (name, rs) =>
        var st = state.getOrElse(name, AlarmKeyState())
        rs.sortBy(r => (r.seq, r.subSeq)).foreach { r =>
          val t0 = System.nanoTime()
          val (st2, out) = UnifiedAlarmRule.step(st, r, now)
          stepNs += System.nanoTime() - t0
          steps += 1
          st = st2
          out.flatMap(_.effective).lastOption.foreach(e => last(name) = e.notification.state)
        }
        state(name) = st
      }
    }

    // The sink's answer: each alarm's row with the highest emit_seq, from
    // batches that completed (emit_seq = batch epoch ms * 1e6 + row index).
    val cutoff = (visible.values.maxOption.getOrElse(0.0) + 1) * 1e6
    val sink = spark.read.parquet(paths.effective)
      .filter($"emit_seq" <= cutoff)
      .select($"name", $"state", $"emit_seq").as[(String, String, Long)].collect()
    val sinkLast = sink.groupBy(_._1).map { case (n, rs) => n -> rs.maxBy(_._3)._2 }
    if (corrupt) last.keys.minOption.foreach(n => last(n) = "Corrupted")
    val names = (sinkLast.keySet ++ last.keySet).toSeq.sorted
    val mismatches = names.filter(n => sinkLast.get(n) != last.get(n)).map(n =>
      s"$n: sink=${sinkLast.getOrElse(n, "-")} fold=${last.getOrElse(n, "-")}")
    Result(names.size, mismatches, if (steps == 0) 0.0 else stepNs / 1e3 / steps,
      sink.length.toLong, ovrs.toSeq)
  }
}

/** Per-layer metrics of the alarm app, from progress, checkpoint logs and sinks. */
object StreamLayers {
  import StreamBench.{dur, startMs => start}

  def metrics(
      progress: Map[String, Seq[StreamingQueryProgress]],
      paths: AlarmProcessorApp.Paths,
      written: Seq[(String, Long, Int)],
      mainBy: Map[String, Long],
      visible: Map[Long, Double],
      fold: Fold.Result,
      windowStartMs: Double,
      lateMs: Seq[Double],
      callbackMs: Double): Map[String, Metric] = {
    val m = mutable.LinkedHashMap[String, Metric]()
    val ms = (v: Double) => Metric(v, "ms")
    val n = (v: Double) => Metric(v, "count")
    for (q <- Seq("fk", "reg", "main")) {
      val ds = progress.getOrElse(q, Nil).filter(_.numInputRows > 0)
      def p(k: String) = Stats.p50or0(ds.map(dur(_, k)))
      m(s"app.$q.latest_offset_ms_p50") = ms(p("latestOffset"))
      m(s"app.$q.planning_ms_p50") = ms(p("queryPlanning"))
      m(s"app.$q.wal_commit_ms_p50") = ms(p("walCommit"))
      m(s"app.$q.commit_offsets_ms_p50") = ms(p("commitOffsets"))
      m(s"app.$q.trigger_ms_p50") = ms(p("triggerExecution"))
      m(s"app.$q.batches") = n(ds.size.toDouble)
    }
    val mainP = progress.getOrElse("main", Nil)
    val mainData = mainP.filter(_.numInputRows > 0)
    val inputRows = mainP.map(_.numInputRows).sum.toDouble
    m("app.main.add_batch_ms_p50") = ms(Stats.p50or0(mainData.map(dur(_, "addBatch"))))
    m("app.main.input_rows") = n(inputRows)
    m("app.main.emit_ratio") = Metric(if (inputRows == 0) 0.0 else fold.effectiveRows / inputRows, "ratio")
    val feedback = fold.overrides.filter { case (f, _) => !f.split('/').last.startsWith("g-") }
    m("app.main.feedback_rows") = n(feedback.size.toDouble)

    val lastP = mainP.lastOption
    val ops = lastP.map(_.stateOperators.toSeq).getOrElse(Nil)
    m("app.main.chain.state_rows") = n(ops.headOption.map(_.numRowsTotal.toDouble).getOrElse(0.0))
    m("app.main.chain.state_bytes") = Metric(ops.headOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
    m("app.main.chain.state_commit_ms_p50") = ms(Stats.p50or0(
      mainData.flatMap(_.stateOperators.headOption.map(_.commitTimeMs.toDouble))))

    val startOf = mainP.map(p => p.batchId -> start(p)).toMap
    val genDirect = written.filter(w => !w._1.startsWith(paths.classes + "/"))
    m("app.main.input_lag_ms_p50") = ms(Stats.p50or0(genDirect.flatMap { case (f, _, _) =>
      mainBy.get(f).flatMap(startOf.get).map(_ - StreamBench.mtime(f)) }))
    val feedbackFiles = feedback.map(_._1).distinct
    m("app.main.feedback_rtt_ms_p50") = ms(Stats.p50or0(feedbackFiles.flatMap { f =>
      mainBy.get(f).flatMap(visible.get).map(_ - StreamBench.mtime(f)) }))

    // Class update -> reg batch that read it -> intermediate-registration
    // files that batch wrote -> main batch that read them.
    val regBy = StreamBench.consumedBy(s"${paths.checkpoint}/reg")
    val regP = progress.getOrElse("reg", Nil).map(p => p.batchId -> p).toMap
    val regOut = mainBy.keys.filter(_.startsWith(paths.intermediateReg + "/")).toSeq
      .map(f => f -> StreamBench.mtime(f))
    val retrigger = written.filter(w => w._1.startsWith(paths.classes + "/")).flatMap { case (f, due, _) =>
      regBy.get(f).flatMap(regP.get).flatMap { p =>
        val (s, e) = (start(p), start(p) + dur(p, "triggerExecution"))
        regOut.filter { case (_, t) => t >= s && t <= e }.flatMap { case (o, _) => mainBy.get(o) }
          .maxOption.flatMap(visible.get).map(_ - due)
      }
    }
    m("app.reg.retrigger_ms_p50") = ms(Stats.p50or0(retrigger))

    m("streaming.expiry.state_rows") = n(ops.drop(1).map(_.numRowsTotal.toDouble).sum)
    val tombs = feedback.filter { case (_, r) => r.tombstone &&
      r.overrideType.exists(t => t == graft.model.OverrideType.Shelved || t == graft.model.OverrideType.OnDelayed) }
    m("streaming.expiry.tombstones") = n(tombs.size.toDouble)
    // Generator shelve (name, expiration) -> first feedback Shelved
    // tombstone for that alarm visible at or after the expiration.
    val shelves = fold.overrides.filter { case (f, r) => f.split('/').last.startsWith("g-") &&
      r.overrideType.contains(graft.model.OverrideType.Shelved) && !r.tombstone }
      .flatMap { case (_, r) => r.overrideValue.flatMap(_.expiration).map(r.name -> _.toDouble) }
      .filter(_._2 >= windowStartMs)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
    val unshelved = tombs.filter(_._2.overrideType.contains(graft.model.OverrideType.Shelved))
      .flatMap { case (f, r) => mainBy.get(f).flatMap(visible.get).map(r.name -> _) }
      .groupBy(_._1)
    m("streaming.expiry.lag_ms_p50") = ms(Stats.p50or0(shelves.toSeq.flatMap { case (name, exp) =>
      unshelved.getOrElse(name, Nil).map(_._2).filter(_ >= exp).minOption.map(_ - exp) }))

    m("model.step_us") = Metric(fold.stepUs, "us")
    m("gen.late_ms_max") = ms(lateMs.maxOption.getOrElse(0.0))
    m("trace.callback_ms") = ms(callbackMs)
    m.toMap
  }
}
