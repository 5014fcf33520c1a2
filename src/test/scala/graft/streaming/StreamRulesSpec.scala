package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/**
 * MemoryStream ports of the reference's TopologyTestDriver scenarios
 * (SURVEY.md §5): transition sequences (ActivationRuleTest:222-275), latch
 * start/stop (LatchRuleTest), oneshot idempotence (OneShotRuleTest:148-168),
 * tombstone protection (ActivationRuleTest:136-149), and the 5s
 * shelve-expiration round trip (ShelveExpirationRuleTest:61-102).
 */
class StreamRulesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    .getOrCreate()

  import spark.implicits._

  private val ids = new AtomicInteger(0)

  /** Run a streaming transform over batches of input, synchronously. */
  private def runStream[I: Encoder, O: Encoder](batches: Seq[Seq[I]])(
      f: Dataset[I] => Dataset[O]): Seq[Seq[O]] = {
    implicit val sq = spark.sqlContext
    val qn = s"out${ids.incrementAndGet()}"
    val ms = MemoryStream[I]
    val q = f(ms.toDS()).writeStream
      .format("memory").queryName(qn).outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graftck").toString)
      .start()
    try {
      import spark.implicits._
      var seen = 0L
      batches.map { b =>
        if (b.nonEmpty) ms.addData(b)
        q.processAllAvailable()
        val all = spark.table(qn).as[O].collect().toSeq
        val fresh = all.drop(seen.toInt)
        seen = all.size
        fresh
      }
    } finally q.stop()
  }

  private val active = Some(Activation(ActivationKind.Active))
  private val noAct = Some(Activation(ActivationKind.NoActivation))
  private def mono(name: String, act: Option[Activation]): Monolog =
    Monolog(name, notification = EffectiveNotification(activation = act))

  // --- T1 transition detect ----------------------------------------------

  test("transitionDetect: active/active/normal sequence sets flags once each way") {
    val recs = Seq(
      Seq(MonologRecord(1, "a", Some(mono("a", active)))),
      Seq(MonologRecord(2, "a", Some(mono("a", active)))),
      Seq(MonologRecord(3, "a", Some(mono("a", noAct)))),
      Seq(MonologRecord(4, "a", Some(mono("a", noAct)))))
    val out = runStream(recs)(StreamRules.transitionDetect).map(_.head.value.get.transitions)
    assert(out(0).transitionToActive && !out(0).transitionToNormal)
    assert(!out(1).transitionToActive && !out(1).transitionToNormal)
    assert(!out(2).transitionToActive && out(2).transitionToNormal)
    assert(!out(3).transitionToActive && !out(3).transitionToNormal)
  }

  test("transitionDetect: in-batch ordering by seq (flap within one micro-batch)") {
    val batch = Seq(
      MonologRecord(2, "a", Some(mono("a", noAct))),
      MonologRecord(1, "a", Some(mono("a", active))))
    val out = runStream(Seq(batch))(StreamRules.transitionDetect).head
      .sortBy(_.seq).map(_.value.get.transitions)
    assert(out(0).transitionToActive)
    assert(out(1).transitionToNormal)
  }

  test("transitionDetect: tombstone-protection yields empty monolog + transitionToNormal") {
    val recs = Seq(
      Seq(MonologRecord(1, "a", Some(mono("a", active)))),
      Seq(MonologRecord(2, "a", None)))
    val out = runStream(recs)(StreamRules.transitionDetect)
    val last = out(1).head.value.get
    assert(last.registration == EffectiveRegistration())
    assert(last.transitions.transitionToNormal)
  }

  // --- T2 latch ----------------------------------------------------------

  private def latchableMono(name: String, tta: Boolean = false, latched: Boolean = false): Monolog =
    Monolog(name,
      registration = EffectiveRegistration(action = Some(AlarmAction(latchable = true))),
      notification = EffectiveNotification(overrides =
        if (latched) AlarmOverrideSet(latched = Some(AlarmOverride(OverrideType.Latched)))
        else AlarmOverrideSet()),
      transitions = ProcessorTransitions(transitionToActive = tta))

  test("latchRule: emits Latched override + latching flag, cleared when override lands") {
    val recs = Seq(
      Seq(MonologRecord(1, "a", Some(latchableMono("a", tta = true)))),
      Seq(MonologRecord(2, "a", Some(latchableMono("a")))), // still latching (no override yet)
      Seq(MonologRecord(3, "a", Some(latchableMono("a", latched = true)))))
    val out = runStream(recs)(StreamRules.latchRule)
    assert(out(0).head.monolog.transitions.latching)
    assert(out(0).head.emission.exists(e =>
      e.overrideType == OverrideType.Latched && e.value.isDefined))
    assert(out(1).head.monolog.transitions.latching) // in-progress persists
    assert(out(1).head.emission.isEmpty)
    assert(!out(2).head.monolog.transitions.latching) // override clears it
  }

  test("latchRule: non-latchable alarm passes through untouched") {
    val m = mono("b", active).copy(transitions = ProcessorTransitions(transitionToActive = true))
    val out = runStream(Seq(Seq(MonologRecord(1, "b", Some(m)))))(StreamRules.latchRule)
    assert(!out.head.head.monolog.transitions.latching)
    assert(out.head.head.emission.isEmpty)
  }

  // --- T3 ondelay ---------------------------------------------------------

  test("onDelayRule: emits OnDelayed override with future expiration; cleared by override") {
    def m(tta: Boolean, ondelayed: Boolean) = Monolog("a",
      registration = EffectiveRegistration(action = Some(AlarmAction(ondelayseconds = Some(5L)))),
      notification = EffectiveNotification(overrides =
        if (ondelayed) AlarmOverrideSet(ondelayed = Some(AlarmOverride(OverrideType.OnDelayed)))
        else AlarmOverrideSet()),
      transitions = ProcessorTransitions(transitionToActive = tta))
    val before = System.currentTimeMillis()
    val recs = Seq(
      Seq(MonologRecord(1, "a", Some(m(tta = true, ondelayed = false)))),
      Seq(MonologRecord(2, "a", Some(m(tta = false, ondelayed = true)))))
    val out = runStream(recs)(StreamRules.onDelayRule)
    assert(out(0).head.monolog.transitions.ondelaying)
    val em = out(0).head.emission.get
    assert(em.overrideType == OverrideType.OnDelayed)
    val exp = em.value.flatMap(_.expiration).get
    assert(exp >= before + 5000 && exp <= System.currentTimeMillis() + 5000)
    assert(!out(1).head.monolog.transitions.ondelaying) // override landed
    assert(out(1).head.emission.isEmpty)
  }

  // --- T4 oneshot (idempotence, OneShotRuleTest:148-168) ------------------

  private def shelvedMono(name: String, oneshot: Boolean, ttn: Boolean): Monolog =
    Monolog(name,
      notification = EffectiveNotification(overrides =
        AlarmOverrideSet(shelved = Some(
          AlarmOverride(OverrideType.Shelved, oneshot = Some(oneshot), expiration = Some(99999L))))),
      transitions = ProcessorTransitions(transitionToNormal = ttn))

  test("oneShotRule: unshelve tombstone on transitionToNormal, idempotent across records") {
    val recs = Seq(
      Seq(MonologRecord(1, "a", Some(shelvedMono("a", oneshot = true, ttn = true)))),
      // in-progress persists while still shelved
      Seq(MonologRecord(2, "a", Some(shelvedMono("a", oneshot = true, ttn = false)))),
      // shelve removed -> store cleared, no flag
      Seq(MonologRecord(3, "a", Some(mono("a", noAct)))))
    val out = runStream(recs)(StreamRules.oneShotRule)
    assert(out(0).head.monolog.transitions.unshelving)
    assert(out(0).head.emission.exists(e => e.overrideType == OverrideType.Shelved && e.value.isEmpty))
    assert(out(1).head.monolog.transitions.unshelving)
    assert(out(1).head.emission.isEmpty) // no ttn -> no new tombstone
    assert(!out(2).head.monolog.transitions.unshelving)
  }

  test("oneShotRule: continuous shelve never unshelves") {
    val out = runStream(Seq(Seq(
      MonologRecord(1, "a", Some(shelvedMono("a", oneshot = false, ttn = true))))))(
      StreamRules.oneShotRule)
    assert(!out.head.head.monolog.transitions.unshelving)
    assert(out.head.head.emission.isEmpty)
  }

  // --- T6 stateless ------------------------------------------------------

  test("effectiveStateRule: drops transitioning, stamps ladder state") {
    val settled = mono("a", active)
    val latching = settled.copy(transitions = ProcessorTransitions(latching = true))
    val out = runStream(Seq(Seq(settled, latching)))(StreamRules.effectiveStateRule)
    assert(out.head.map(_.name) == Seq("a"))
    assert(out.head.head.notification.state == AlarmState.Active)
  }

  // --- T8 expiration -----------------------------------------------------

  // NOTE: never call processAllAvailable() on a ProcessingTimeTimeout query —
  // timeout checks keep scheduling micro-batches so "all available" never
  // settles (livelock). Poll the memory sink with a deadline instead.

  private def startExpiryQuery(ms: MemoryStream[OverrideRecord], qn: String,
      types: Set[String] = Set(OverrideType.Shelved)) =
    StreamRules.expirationTimers(ms.toDS(), types)
      .writeStream.format("memory").queryName(qn).outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graftck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()

  private def pollCount(qn: String, until: Long => Boolean, deadlineMs: Long): Long = {
    val deadline = System.currentTimeMillis() + deadlineMs
    var n = spark.table(qn).count()
    while (!until(n) && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      n = spark.table(qn).count()
    }
    n
  }

  test("expirationTimers: shelve with short expiration fires a tombstone (5s round trip)") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[OverrideRecord]
    val qn = s"exp${ids.incrementAndGet()}"
    val q = startExpiryQuery(ms, qn)
    try {
      ms.addData(Seq(OverrideRecord(1, "a", OverrideType.Shelved,
        oneshot = Some(false), expiration = Some(System.currentTimeMillis() + 3000))))
      val n = pollCount(qn, _ > 0, 45000)
      assert(n == 1)
      val fired = spark.table(qn).as[OverrideEmission].collect()
      assert(fired.head == OverrideEmission("a", OverrideType.Shelved, None))
    } finally q.stop()
  }

  test("expirationTimers: explicit tombstone disarms the timer") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[OverrideRecord]
    val qn = s"exp${ids.incrementAndGet()}"
    val q = startExpiryQuery(ms, qn)
    try {
      ms.addData(Seq(OverrideRecord(1, "a", OverrideType.Shelved,
        oneshot = Some(false), expiration = Some(System.currentTimeMillis() + 4000))))
      Thread.sleep(1000) // let the arm batch run
      ms.addData(Seq(OverrideRecord(2, "a", OverrideType.Shelved, tombstone = true)))
      // wait well past the would-be expiry; nothing must fire
      val n = pollCount(qn, _ > 0, 9000)
      assert(n == 0)
    } finally q.stop()
  }

  test("expirationTimers: Shelved and OnDelayed timers on one alarm fire independently") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[OverrideRecord]
    val qn = s"exp${ids.incrementAndGet()}"
    val q = startExpiryQuery(ms, qn, Set(OverrideType.Shelved, OverrideType.OnDelayed))
    try {
      val t0 = System.currentTimeMillis()
      ms.addData(Seq(
        OverrideRecord(1, "a", OverrideType.Shelved,
          oneshot = Some(false), expiration = Some(t0 + 5000)),
        OverrideRecord(2, "a", OverrideType.OnDelayed, expiration = Some(t0 + 6000))))
      // wait for the batch that arms both timers before re-arming one
      val armDeadline = t0 + 4000
      while (!q.recentProgress.exists(_.numInputRows > 0) &&
          System.currentTimeMillis() < armDeadline) Thread.sleep(100)
      assert(q.recentProgress.exists(_.numInputRows > 0), "arm batch did not run")
      // a new Shelved record moves the shelve timer past the OnDelayed one
      ms.addData(Seq(OverrideRecord(3, "a", OverrideType.Shelved,
        oneshot = Some(false), expiration = Some(t0 + 12000))))

      assert(pollCount(qn, _ > 0, 45000) >= 1)
      val firstAt = System.currentTimeMillis() - t0
      val first = spark.table(qn).as[OverrideEmission].collect().toSeq
      // the OnDelayed timer fired on its own schedule; the re-armed
      // shelve timer fired neither at its old (5 s) nor yet at its new
      // (12 s) time
      assert(first == Seq(OverrideEmission("a", OverrideType.OnDelayed, None)),
        s"after $firstAt ms: $first")

      assert(pollCount(qn, _ > 1, 45000) == 2)
      assert(System.currentTimeMillis() - t0 >= 12000)
      val fired = spark.table(qn).as[OverrideEmission].collect().toSeq
      assert(fired == Seq(
        OverrideEmission("a", OverrideType.OnDelayed, None),
        OverrideEmission("a", OverrideType.Shelved, None)))
    } finally q.stop()
  }

  // --- S1 latest ---------------------------------------------------------

  test("latestMonolog: emits only the newest record per key per batch, ignores stale") {
    val recs = Seq(
      Seq(
        MonologRecord(2, "a", Some(mono("a", active))),
        MonologRecord(1, "a", Some(mono("a", noAct)))),
      Seq(MonologRecord(1, "a", Some(mono("a", noAct))))) // stale replay
    val out = runStream(recs)(StreamRules.latestMonolog)
    assert(out(0).map(_.seq) == Seq(2L))
    assert(out(1).isEmpty)
  }
}
