package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model._
import graft.streaming._

/**
 * End-to-end drive of the streaming monolog chain through the public API:
 * activation changelog -> transitionDetect -> latchRule -> oneShotRule ->
 * effectiveStateRule, plus a live shelve-expiration round trip. Mirrors the
 * reference's README quick-start scenario (5s shelve -> tombstone observed).
 */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val sq = spark.sqlContext
    import spark.implicits._

    // ---- monolog chain ---------------------------------------------------
    val in = MemoryStream[MonologRecord]
    val chained = StreamRules.effectiveStateRule(
      StreamRules.oneShotRule(
        StreamRules.latchRule(
          StreamRules.transitionDetect(in.toDS()))
          .map(_.copy(emission = None)).map(r => MonologRecord(r.seq, r.monolog.name, Some(r.monolog))))
        .map(r => r.monolog))
    val q = chained.writeStream.format("memory").queryName("chain")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("demo").toString)
      .start()

    def latchableMono(name: String): Monolog =
      Monolog(name, registration = EffectiveRegistration(
        alarm = Some(Alarm(action = Some("cls"))),
        action = Some(AlarmAction(latchable = true))))

    // batch 1: alarm activates -> latching in flight -> record suppressed
    in.addData(Seq(MonologRecord(1, "alarm1",
      Some(latchableMono("alarm1").copy(notification =
        EffectiveNotification(activation = Some(Activation(ActivationKind.Active))))))))
    q.processAllAvailable()
    val afterActive = spark.table("chain").as[EffectiveAlarm].collect()
    println(s"[demo] after activation (latching in flight): ${afterActive.length} effective records (expect 0 = suppressed)")

    // batch 2: latched override landed -> settled ActiveLatched
    val latchedNotif = EffectiveNotification(
      activation = Some(Activation(ActivationKind.Active)),
      overrides = AlarmOverrideSet(latched = Some(AlarmOverride(OverrideType.Latched))))
    in.addData(Seq(MonologRecord(2, "alarm1",
      Some(latchableMono("alarm1").copy(notification = latchedNotif)))))
    q.processAllAvailable()
    val settled = spark.table("chain").as[EffectiveAlarm].collect()
    println(s"[demo] settled states: ${settled.map(e => s"${e.name}=${e.notification.state}").mkString(", ")}")
    q.stop()
    assert(settled.map(_.notification.state).toSeq == Seq(AlarmState.ActiveLatched),
      "expected one settled ActiveLatched record")

    // ---- live shelve expiration (README 5s scenario, shortened) ---------
    val ovIn = MemoryStream[OverrideRecord]
    val exq = StreamRules.expirationTimers(ovIn.toDS(), Set(OverrideType.Shelved))
      .writeStream.format("memory").queryName("expired").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("demo").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()
    val t0 = System.currentTimeMillis()
    ovIn.addData(Seq(OverrideRecord(1, "alarm1", OverrideType.Shelved,
      oneshot = Some(false), expiration = Some(t0 + 3000))))
    val deadline = t0 + 45000
    while (spark.table("expired").count() == 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
    }
    val fired = spark.table("expired").as[OverrideEmission].collect()
    val dt = (System.currentTimeMillis() - t0) / 1000.0
    println(s"[demo] shelve expiration fired after ${dt}s: ${fired.mkString}")
    exq.stop()
    assert(fired.length == 1 && fired.head.value.isEmpty, "expected one tombstone emission")
    println("[demo] OK")
    spark.stop()
  }
}
