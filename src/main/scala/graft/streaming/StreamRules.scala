package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model._

/** Streaming changelog record (value None = tombstone). */
final case class MonologRecord(seq: Long, name: String, value: Option[Monolog])

/** Raw override changelog record (flattened union; tombstone = delete). */
final case class OverrideRecord(
    seq: Long,
    name: String,
    overrideType: String,
    oneshot: Option[Boolean] = None,
    expiration: Option[Long] = None,
    reason: Option[String] = None,
    tombstone: Boolean = false) {
  def toOverride: Option[AlarmOverride] =
    if (tombstone) None
    else Some(AlarmOverride(overrideType, None, oneshot, expiration, reason))
}

/** Emission back onto the overrides changelog (tombstone when value empty). */
final case class OverrideEmission(
    name: String,
    overrideType: String,
    value: Option[AlarmOverride])

/** Combined output of a transition rule: passthrough monolog + optional emission. */
final case class RuleOutput(
    seq: Long,
    monolog: Monolog,
    emission: Option[OverrideEmission])

private final case class StoredActivation(activation: Option[Activation])
private final case class InProgress(flag: Boolean)
private final case class ExpiryState(armedAtMillis: Long, delayMillis: Long)

/**
 * `StatefulProcessor` for [[StreamRules.expirationTimersTws]]: one armed
 * processing-time timer per alarm; every new override record cancels the
 * outstanding timer (last-record-wins, `ShelveExpirationRule.java:121-135`)
 * and re-arms from its expiration; firing emits the unshelve tombstone.
 */
private final class ExpiryProcessor(expiringType: String)
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    String, OverrideRecord, OverrideEmission] {

  @transient private var armed: org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    armed = getHandle.getValueState[Long]("armed",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[OverrideRecord],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[OverrideEmission] = {
    val latest = rows.maxBy(_.seq)
    if (armed.exists()) { getHandle.deleteTimer(armed.get()); armed.clear() }
    val now = timerValues.getCurrentProcessingTimeInMs()
    graft.model.StateMachines.expirationDelayMillis(latest.toOverride, now).foreach { delay =>
      val at = now + delay
      getHandle.registerTimer(at)
      armed.update(at)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(
      key: String,
      timerValues: org.apache.spark.sql.streaming.TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[OverrideEmission] = {
    armed.clear()
    Iterator.single(OverrideEmission(key, expiringType, None))
  }
}

/**
 * `StatefulProcessor` form of T1 for [[StreamRules.transitionDetectTws]]:
 * same seq-ordered fold over [[graft.model.StateMachines.detectTransitions]]
 * as the FMGWS form, with the stored previous activation in a named
 * ValueState (state v2 / RocksDB).
 */
private final class TransitionProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    String, MonologRecord, MonologRecord] {

  @transient private var stored:
    org.apache.spark.sql.streaming.ValueState[StoredActivation] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    stored = getHandle.getValueState[StoredActivation]("prev",
      org.apache.spark.sql.Encoders.product[StoredActivation],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[MonologRecord],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[MonologRecord] = {
    var prev = if (stored.exists()) stored.get().activation else None
    val out = rows.toSeq.sortBy(_.seq).map { rec =>
      val m = rec.value.getOrElse(StateMachines.emptyMonolog(key))
      val (res, next) = StateMachines.detectTransitions(prev, m)
      prev = next
      rec.copy(value = Some(res))
    }
    stored.update(StoredActivation(prev))
    out.iterator
  }
}

/**
 * `StatefulProcessor` form of the shared T2/T3/T4 shape for
 * [[StreamRules.latchRuleTws]] / [[StreamRules.onDelayRuleTws]] /
 * [[StreamRules.oneShotRuleTws]]: folds the per-key in-progress boolean
 * in seq order; `step`/`emission` are the SAME pure functions the FMGWS
 * form uses, so both APIs share one tested state machine.
 */
private final class InProgressProcessor(
    step: (Monolog, Boolean) => (Monolog, Boolean),
    emission: Monolog => Option[OverrideEmission])
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    String, MonologRecord, RuleOutput] {

  @transient private var flag:
    org.apache.spark.sql.streaming.ValueState[Boolean] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    flag = getHandle.getValueState[Boolean]("inprogress",
      org.apache.spark.sql.Encoders.scalaBoolean,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[MonologRecord],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[RuleOutput] = {
    var inProgress = flag.exists() && flag.get()
    val out = rows.toSeq.sortBy(_.seq).map { rec =>
      val m = rec.value.getOrElse(StateMachines.emptyMonolog(key))
      val (flagged, next) = step(m, inProgress)
      inProgress = next
      RuleOutput(rec.seq, flagged, emission(flagged))
    }
    flag.update(inProgress)
    out.iterator
  }
}

/**
 * The streaming operators — each reference rule as a typed
 * Dataset -> Dataset transform backed by `flatMapGroupsWithState`.
 *
 * Correctness requirement Catalyst does not give us: within a micro-batch a
 * group's iterator is UNORDERED, so every operator sorts its group by `seq`
 * (the Kafka (partition, offset) analogue) before folding state — the
 * reference gets this ordering for free from Kafka partition order
 * (`ActivationRule.java:25-27` javadoc).
 *
 * Scale: state is per-alarm (a few hundred bytes); flatMapGroupsWithState
 * shuffles on the alarm name once and the RocksDB/HDFS state store holds the
 * rest. All pure logic lives in [[graft.model.StateMachines]], shared with
 * the batch path and unit-tested without Spark.
 */
object StreamRules {

  /**
   * T1 `ActiveTransitionStateProcessor` (`ActivationRule.java:323-429`):
   * tombstone-protect, normalize NoActivation, diff against the stored
   * previous activation, stamp transitionToActive/Normal. Output value is
   * always present (tombstones become empty monologs).
   */
  def transitionDetect(ds: Dataset[MonologRecord]): Dataset[MonologRecord] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.name)
      .flatMapGroupsWithState[StoredActivation, MonologRecord](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (name, records, state: GroupState[StoredActivation]) =>
          var prev = state.getOption.flatMap(_.activation)
          val out = records.toSeq.sortBy(_.seq).map { rec =>
            val m = rec.value.getOrElse(StateMachines.emptyMonolog(name))
            val (res, next) = StateMachines.detectTransitions(prev, m)
            prev = next
            rec.copy(value = Some(res))
          }
          state.update(StoredActivation(prev))
          out.iterator
      }
  }

  /**
   * T2 latch rule (`LatchRule.java:79-218`): passthrough with `latching`
   * flag from the in-progress store, plus Latched-override emissions for
   * latchable alarms transitioning to active.
   */
  def latchRule(ds: Dataset[MonologRecord]): Dataset[RuleOutput] =
    inProgressRule(ds)(StateMachines.latchStep, latchEmission)

  /** T3 ondelay rule (`OnDelayRule.java:79-226`); expiration = now + ondelayseconds. */
  def onDelayRule(ds: Dataset[MonologRecord]): Dataset[RuleOutput] =
    inProgressRule(ds)(StateMachines.onDelayStep, onDelayEmission)

  /** T4 oneshot rule (`OneShotRule.java:79-202`); emits Shelved tombstones. */
  def oneShotRule(ds: Dataset[MonologRecord]): Dataset[RuleOutput] =
    inProgressRule(ds)(StateMachines.oneShotStep, oneShotEmission)

  /** Emission rules shared by the FMGWS and transformWithState forms. */
  private val latchEmission: Monolog => Option[OverrideEmission] = m =>
    if (StateMachines.latchEmits(m))
      Some(OverrideEmission(m.name, OverrideType.Latched,
        Some(AlarmOverride(OverrideType.Latched))))
    else None

  private val onDelayEmission: Monolog => Option[OverrideEmission] = m =>
    StateMachines.onDelayEmits(m, System.currentTimeMillis())
      .map(o => OverrideEmission(m.name, OverrideType.OnDelayed, Some(o)))

  private val oneShotEmission: Monolog => Option[OverrideEmission] = m =>
    if (StateMachines.oneShotEmitsTombstone(m))
      Some(OverrideEmission(m.name, OverrideType.Shelved, None))
    else None

  /** Shared shape of T2/T3/T4: fold the per-key in-progress boolean in seq order. */
  private def inProgressRule(ds: Dataset[MonologRecord])(
      step: (Monolog, Boolean) => (Monolog, Boolean),
      emission: Monolog => Option[OverrideEmission]): Dataset[RuleOutput] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.name)
      .flatMapGroupsWithState[InProgress, RuleOutput](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (name, records, state: GroupState[InProgress]) =>
          var inProgress = state.getOption.exists(_.flag)
          val out = records.toSeq.sortBy(_.seq).map { rec =>
            val m = rec.value.getOrElse(StateMachines.emptyMonolog(name))
            val (flagged, next) = step(m, inProgress)
            inProgress = next
            RuleOutput(rec.seq, flagged, emission(flagged))
          }
          state.update(InProgress(inProgress))
          out.iterator
      }
  }

  /**
   * T1–T4 on the modern `transformWithState` API (state v2): the same
   * seq-ordered folds as the FMGWS forms above, running on named
   * ValueState over the RocksDB provider — one state API across every
   * stateful rule (T8/T9 already have [[expirationTimersTws]]). The
   * pure state machines are shared verbatim, so the two forms cannot
   * diverge semantically.
   */
  def transitionDetectTws(ds: Dataset[MonologRecord]): Dataset[MonologRecord] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.name)
      .transformWithState(
        new TransitionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** T2 latch rule on transformWithState — see [[transitionDetectTws]]. */
  def latchRuleTws(ds: Dataset[MonologRecord]): Dataset[RuleOutput] =
    inProgressRuleTws(ds)(StateMachines.latchStep, latchEmission)

  /** T3 ondelay rule on transformWithState — see [[transitionDetectTws]]. */
  def onDelayRuleTws(ds: Dataset[MonologRecord]): Dataset[RuleOutput] =
    inProgressRuleTws(ds)(StateMachines.onDelayStep, onDelayEmission)

  /** T4 oneshot rule on transformWithState — see [[transitionDetectTws]]. */
  def oneShotRuleTws(ds: Dataset[MonologRecord]): Dataset[RuleOutput] =
    inProgressRuleTws(ds)(StateMachines.oneShotStep, oneShotEmission)

  private def inProgressRuleTws(ds: Dataset[MonologRecord])(
      step: (Monolog, Boolean) => (Monolog, Boolean),
      emission: Monolog => Option[OverrideEmission]): Dataset[RuleOutput] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.name)
      .transformWithState(
        new InProgressProcessor(step, emission),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /**
   * T6 effective-state rule (`EffectiveStateRule.java:117-237`): drop
   * mid-transition records, stamp the ladder state. Stateless — a plain
   * typed flatMap, fully parallel, no shuffle.
   */
  def effectiveStateRule(ds: Dataset[Monolog]): Dataset[EffectiveAlarm] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.flatMap { m =>
      StateMachines.effectiveStateStep(m).map(r =>
        EffectiveAlarm(r.name, r.registration, r.notification))
    }
  }

  /**
   * T8/T9 expiration timers (`ShelveExpirationRule.java:93-191`,
   * `OnDelayExpirationRule.java:99-204`): for each override whose type is
   * in `expiringTypes`, (re)arm a processing-time timer at its expiration;
   * on fire, emit a tombstone of that type back to the overrides
   * changelog. Replaces the reference's in-memory ConcurrentHashMap timer
   * registry with fault-tolerant checkpointed state.
   *
   * One operator serves every type: state is keyed by (name, type), so a
   * Shelved and an OnDelayed timer on the same alarm arm, re-arm and fire
   * independently — exactly as two single-type operators would — while a
   * micro-batch commits one operator's state stores instead of one set per
   * type.
   */
  def expirationTimers(
      ds: Dataset[OverrideRecord],
      expiringTypes: Set[String]): Dataset[OverrideEmission] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.filter(r => expiringTypes.contains(r.overrideType))
      .groupByKey(r => (r.name, r.overrideType))
      .flatMapGroupsWithState[ExpiryState, OverrideEmission](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (key, records, state: GroupState[ExpiryState]) =>
          val (name, expiringType) = key
          if (state.hasTimedOut) {
            state.remove()
            Iterator.single(OverrideEmission(name, expiringType, None))
          } else {
            // Last record wins: any new record cancels the previous timer
            // (`ShelveExpirationRule.java:121-135`).
            val latest = records.maxBy(_.seq)
            val now = System.currentTimeMillis()
            StateMachines.expirationDelayMillis(latest.toOverride, now) match {
              case Some(delayMs) =>
                state.update(ExpiryState(now, delayMs))
                state.setTimeoutDuration(delayMs)
              case None =>
                if (state.exists) state.remove()
            }
            Iterator.empty
          }
      }
  }

  /**
   * T8/T9 on the modern `transformWithState` API (Spark 4.x arbitrary
   * state v2): per-key NAMED TIMERS map 1:1 onto the reference's
   * punctuator registry (`ShelveExpirationRule.java:121-149` — cancel the
   * outstanding timer, re-arm at the new expiration, tombstone on fire),
   * where the FMGWS form ([[expirationTimers]]) had to encode the timer as
   * a state timeout. Requires the RocksDB state-store provider
   * (`spark.sql.streaming.stateStore.providerClass`).
   */
  def expirationTimersTws(
      ds: Dataset[OverrideRecord],
      expiringType: String): Dataset[OverrideEmission] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.filter(_.overrideType == expiringType)
      .groupByKey(_.name)
      .transformWithState(
        new ExpiryProcessor(expiringType),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /**
   * S1 streaming `latestByKey`: changelog -> upsert stream of the latest
   * monolog per key (KTable.toStream analogue). Emits one record per key
   * per micro-batch (the newest), preserving tombstones.
   */
  def latestMonolog(ds: Dataset[MonologRecord]): Dataset[MonologRecord] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.name)
      .flatMapGroupsWithState[MonologRecord, MonologRecord](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, records, state: GroupState[MonologRecord]) =>
          val newest = records.maxBy(_.seq)
          val prevSeq = state.getOption.map(_.seq).getOrElse(Long.MinValue)
          if (newest.seq > prevSeq) {
            state.update(newest)
            Iterator.single(newest)
          } else Iterator.empty
      }
  }
}
