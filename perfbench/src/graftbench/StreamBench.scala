package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.app.AlarmProcessorApp
import graft.app.AlarmProcessorApp.RunningApp

/**
 * `alarm_paced` and `alarm_drain`: `AlarmProcessorApp` with its default
 * trigger, fed JSON-lines files made from the sf0.1 `events` through
 * `rules.EventsAlarmAdapter`, measured from outside: the bench reads the
 * app's sinks, its checkpoint logs (which files each micro-batch
 * consumed) and its `StreamingQueryProgress`.
 *
 * A generator file is named `g-<dueEpochMs>-<n>.json`; its records are
 * due at that time. An input is visible when the main query's batch that
 * consumed it has written its sinks: progress timestamp + triggerExecution
 * - commitOffsets.
 */
object StreamBench {

  private val TickMs = 50L
  private val Rate = 200 // records per second offered by alarm_paced
  private val SetupStarts = 3
  private val ShelveMs = 5000L // alarm_paced re-bases shelve expirations to due + 5 s
  private val ClassEveryMs = 3000L

  /** One changelog record before its seq is known. */
  final case class Rec(topic: String, name: String, body: String)

  final case class Inputs(classes: Seq[(Int, String)], instances: Seq[Rec], stream: Seq[Rec])

  // ---------------------------------------------------------------- inputs

  private def classBody(k: Int, latchable: Boolean, filterable: Boolean,
      ondelay: Option[Long]): String =
    s""""name":"class$k","latchable":$latchable,"filterable":$filterable,""" +
      ondelay.map(d => s""""ondelayseconds":$d,""").getOrElse("") +
      s""""priority":"P$k","tombstone":false"""

  /**
   * Changelogs from the adapter: classes, instance registrations, and the
   * activations + overrides in event_id order (activation first within an
   * event).
   */
  def inputs(spark: SparkSession, dir: String): Inputs = {
    import spark.implicits._
    val (inst, cls, act, ovr) = graft.rules.EventsAlarmAdapter.load(spark, dir)
    val classRows = cls.orderBy("class_key").collect().map { r =>
      val k = r.getAs[Int]("class_key")
      k -> classBody(k, r.getAs[Boolean]("latchable"), r.getAs[Boolean]("filterable"),
        Option(r.getAs[java.lang.Long]("ondelayseconds")).map(_.longValue))
    }.toSeq
    val instRows = inst.orderBy("name").select($"name", $"class_key").as[(Long, Int)].collect()
    val acts = act.select($"seq", lit(0).as("o"), $"name", $"union", lit(null).cast("string").as("t"),
      lit(null).cast("boolean").as("oneshot"), lit(null).cast("long").as("exp"),
      lit(null).cast("boolean").as("tomb"))
    val ovrs = ovr.select($"seq", lit(1).as("o"), $"name", lit(null).cast("string").as("union"),
      $"override_type".as("t"), $"oneshot", $"expiration".as("exp"), $"tombstone".as("tomb"))
    val rows = acts.union(ovrs).orderBy("seq", "o")
      .as[(Long, Int, Long, String, String, Option[Boolean], Option[Long], Option[Boolean])]
      .collect()
    val instances = instRows.toSeq.map { case (id, k) =>
      Rec("instances", id.toString, s""""name":"$id","action":"class$k","tombstone":false""")
    }
    val stream = rows.toSeq.map { case (_, o, id, union, t, oneshot, exp, tomb) =>
      if (o == 0) Rec("activations", id.toString, s""""name":"$id","union":"$union"""")
      else Rec("overrides", id.toString,
        s""""name":"$id","overrideType":"$t",""" +
          oneshot.map(b => s""""oneshot":$b,""").getOrElse("") +
          exp.map(e => s""""expiration":$e,""").getOrElse("") +
          s""""tombstone":${tomb.getOrElse(false)}""")
    }
    Inputs(classRows, instances, stream)
  }

  /**
   * [[inputs]] through a cache file: the adapter's changelogs depend only
   * on the program and the tables, so one run computes them and later
   * runs read them back (one `topic<TAB>name<TAB>body` line per record).
   */
  def cachedInputs(spark: SparkSession, dir: String, cache: String): Inputs = {
    val p = Paths.get(cache)
    if (!Files.exists(p)) {
      val in = inputs(spark, dir)
      val lines = in.classes.map { case (k, b) => s"classes\t$k\t$b" } ++
        (in.instances ++ in.stream).map(r => s"${r.topic}\t${r.name}\t${r.body}")
      Files.createDirectories(p.getParent)
      val tmp = Paths.get(cache + ".tmp")
      Files.write(tmp, lines.asJava, StandardCharsets.UTF_8)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
    }
    val recs = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toVector.map { l =>
      val Array(t, n, b) = l.split("\t", 3)
      Rec(t, n, b)
    }
    Inputs(recs.filter(_.topic == "classes").map(r => r.name.toInt -> r.body),
      recs.filter(_.topic == "instances"),
      recs.filter(r => r.topic == "activations" || r.topic == "overrides"))
  }

  /**
   * Seeded cross-key interleaving: records move up to `window` places,
   * then each alarm's records are put back in their original order on
   * the places its records now hold. Per-key order is kept; which keys'
   * records meet in one file or batch changes with the seed.
   */
  def interleave[T](in: Seq[T], key: T => String, seed: Long, window: Int = 64): Seq[T] = {
    val xs = in.toVector
    val rnd = new Random(seed)
    val moved = xs.indices.map(i => (i + rnd.nextDouble() * window, i)).sortBy(_._1).map(_._2)
    val byKey = xs.indices.groupBy(i => key(xs(i))).map { case (k, is) => k -> is.iterator }
    moved.map(i => xs(byKey(key(xs(i))).next()))
  }

  // ------------------------------------------------------------- file I/O

  /** Atomic publish: hidden temp name (ignored by Spark's file source), then rename. */
  private def publish(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def line(seq: Long, body: String) = s"""{"seq":$seq,$body}"""

  /** Seq domain shared with the app's emissions: epoch_ms * 1e6 + index. */
  private def seqAt(ms: Long, i: Int) = ms * 1000000L + 500000L + i

  private def writeRegistration(paths: AlarmProcessorApp.Paths, in: Inputs, atMs: Long): Unit = {
    publish(paths.classes, s"g-$atMs-0.json",
      in.classes.zipWithIndex.map { case ((_, b), i) => line(seqAt(atMs, i), b) })
    in.instances.grouped(500).zipWithIndex.foreach { case (g, j) =>
      publish(paths.instances, s"g-$atMs-$j.json",
        g.zipWithIndex.map { case (r, i) => line(seqAt(atMs, j * 500 + i), r.body) })
    }
  }

  // ------------------------------------------------------------ generator

  final case class Tick(offsetMs: Long, recs: Seq[Rec])

  /**
   * One generator thread. Open loop: each tick's files are written at
   * their due time whatever the app is doing. With `backlog`, every tick
   * is staged first and then published at once instead.
   */
  final class Generator(paths: AlarmProcessorApp.Paths, ticks: Seq[Tick],
      classUpdates: Seq[(Long, Int, String)], shelveMs: Option[Long], backlog: Boolean)
      extends Thread("perfbench-gen") {
    @volatile var startMs = 0L
    val lateMs = mutable.ArrayBuffer[Double]()
    val written = mutable.ArrayBuffer[(String, Long, Int)]() // file path, due ms, records
    setDaemon(true)
    private def sleepUntil(ms: Long): Unit = {
      var d = ms - System.currentTimeMillis()
      while (d > 0) { Thread.sleep(math.min(d, 20)); d = ms - System.currentTimeMillis() }
    }
    override def run(): Unit = if (backlog) burst() else paced()

    /** Every file staged under a hidden name, then all renamed at once. */
    private def burst(): Unit = {
      sleepUntil(startMs)
      val staged = ticks.zipWithIndex.flatMap { case (t, j) =>
        t.recs.groupBy(_.topic).toSeq.sortBy(_._1).map { case (topic, rs) =>
          val dir = if (topic == "activations") paths.activations else paths.overrides
          val name = s"g-$startMs-${topic.head}$j.json"
          val lines = rs.zipWithIndex.map { case (r, i) => line(seqAt(startMs, i), r.body) }
          val tmp = Paths.get(dir, s".$name.tmp")
          Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
          (tmp, Paths.get(dir, name), rs.size)
        }
      }
      startMs = System.currentTimeMillis()
      staged.foreach { case (tmp, dst, _) => Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE) }
      lateMs += (System.currentTimeMillis() - startMs).toDouble
      written.synchronized { staged.foreach { case (_, dst, n) => written += ((dst.toString, startMs, n)) } }
    }

    private def paced(): Unit = {
      val events = (ticks.map(t => (t.offsetMs, Left(t): Either[Tick, (Long, Int, String)])) ++
        classUpdates.map(c => (c._1, Right(c)))).sortBy(_._1)
      events.foreach { case (off, ev) =>
        val due = startMs + off
        sleepUntil(due)
        lateMs += (System.currentTimeMillis() - due).toDouble
        ev match {
          case Left(t) =>
            t.recs.groupBy(_.topic).toSeq.sortBy(_._1).foreach { case (topic, rs) =>
              val dir = if (topic == "activations") paths.activations else paths.overrides
              val lines = rs.zipWithIndex.map { case (r, i) =>
                val body = shelveMs match {
                  case Some(d) if r.topic == "overrides" && r.body.contains("\"expiration\":") =>
                    r.body.replaceAll("\"expiration\":-?\\d+", s""""expiration":${due + d}""")
                  case _ => r.body
                }
                line(seqAt(due, i + (if (topic == "activations") 0 else 100000)), body)
              }
              val name = s"g-$due-${topic.head}.json"
              publish(dir, name, lines)
              written.synchronized { written += ((s"$dir/$name", due, rs.size)) }
            }
          case Right((_, i, body)) =>
            val name = s"g-$due-c$i.json"
            publish(paths.classes, name, Seq(line(seqAt(due, 0), body)))
            written.synchronized { written += ((s"${paths.classes}/$name", due, 1)) }
        }
      }
    }
  }

  // --------------------------------------------------------- app control

  private def configure(spark: SparkSession, a: Args): Unit = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (a.stateApi == "tws")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  private def queries(app: RunningApp) = Seq("fk" -> app.fkQuery, "reg" -> app.regQuery,
    "main" -> app.mainQuery)

  private def awaitUntil(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(5)
    cond
  }

  private def failIfDead(app: RunningApp): Unit = queries(app).foreach { case (n, q) =>
    q.exception.foreach(e => throw new RuntimeException(s"query $n died: ${e.getMessage}", e))
  }

  /**
   * Stop, preferably between triggers of the main query. A batch cut
   * mid-write is never committed: the fold skips it and the sink check
   * drops rows emitted after the last committed batch.
   */
  private def stop(app: RunningApp): Unit = {
    awaitUntil(1000)(!app.mainQuery.status.isTriggerActive)
    app.mainQuery.stop(); app.regQuery.stop(); app.fkQuery.stop()
  }

  private[graftbench] def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  private[graftbench] def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private[graftbench] def visibleMs(p: StreamingQueryProgress) =
    startMs(p) + dur(p, "triggerExecution") - dur(p, "commitOffsets")

  // ------------------------------------------------------ checkpoint logs

  private def readLines(p: Path): Seq[String] =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n").toSeq

  private def listNumeric(dir: Path): Seq[Long] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .flatMap(_.toLongOption).toSeq.sorted

  private def uriPath(s: String) = new java.net.URI(s).getPath

  /**
   * file -> the committed batch of `ckpt`'s query that consumed it, from the
   * file-source logs (entries carry their log batch id) and the offset log
   * (each batch's log offset per source).
   */
  def consumedBy(ckpt: String): Map[String, Long] = {
    val committed = listNumeric(Paths.get(ckpt, "commits")).toSet
    val srcRoot = Paths.get(ckpt, "sources")
    val sources = if (!Files.isDirectory(srcRoot)) Nil
      else Files.list(srcRoot).iterator().asScala.toSeq.flatMap(_.getFileName.toString.toIntOption).sorted
    val entries: Map[Int, Seq[(String, Long)]] = sources.map { s =>
      val dir = srcRoot.resolve(s.toString)
      s -> Files.list(dir).iterator().asScala.toSeq
        .filter(p => !p.getFileName.toString.startsWith("."))
        .flatMap(readLines).filter(_.startsWith("{")).map { l =>
          val j = Json.parse(l)
          uriPath(j.get("path").asText) -> j.get("batchId").asLong
        }.distinct
    }.toMap
    val offsets: Seq[(Long, IndexedSeq[Long])] = listNumeric(Paths.get(ckpt, "offsets"))
      .filter(committed).map { b =>
        val ls = readLines(Paths.get(ckpt, "offsets", b.toString)).drop(2)
        b -> ls.map(l => if (l.startsWith("{")) Json.parse(l).path("logOffset").asLong(-1L) else -1L)
          .toIndexedSeq
      }
    val out = mutable.HashMap[String, Long]()
    var prev = IndexedSeq.fill(sources.size)(-1L)
    offsets.foreach { case (b, offs) =>
      sources.zipWithIndex.foreach { case (s, i) =>
        val hi = offs.lift(i).getOrElse(-1L)
        entries(s).foreach { case (f, lb) =>
          if (lb > prev(i) && lb <= hi && !out.contains(f)) out(f) = b
        }
      }
      prev = offs.padTo(sources.size, -1L)
    }
    out.toMap
  }

  private[graftbench] def mtime(f: String) = Files.getLastModifiedTime(Paths.get(f)).toMillis.toDouble

  // ---------------------------------------------------------------- run

  def run(a: Args, paced: Boolean): Outcome = {
    val spark = Session.start(a)
    configure(spark, a)
    val trace = if (a.trace) Some(new Trace(spark).install()) else None
    Log.phase("session")
    val in = cachedInputs(spark, s"${a.data}/sf${a.sf}", a.inputs)
    Log.phase("inputs")
    val rnd = new Random(a.seed)
    val stream = interleave(in.stream, (r: Rec) => r.name, a.seed)

    // Set-up, three times: app start until the main query's first
    // completed trigger, with the class + instance registrations as the
    // only input; the median is reported. The first start in the JVM is
    // the cold one. The last app keeps running and is the one measured.
    val paths = AlarmProcessorApp.Paths(s"${a.work}/app")
    var kept: Option[RunningApp] = None
    val setups = (0 until SetupStarts).map { i =>
      val last = i == SetupStarts - 1
      val p = if (last) paths else AlarmProcessorApp.Paths(s"${a.work}/setup$i")
      p.mkdirs()
      writeRegistration(p, in, System.currentTimeMillis())
      val t0 = System.nanoTime()
      val app = AlarmProcessorApp.start(spark, p)
      awaitUntil(60000) { failIfDead(app); app.mainQuery.lastProgress != null }
      val s = (System.nanoTime() - t0) / 1e9
      if (last) kept = Some(app) else stop(app)
      s
    }
    val app = kept.get
    // Registrations settled: every instance has reached the main query.
    awaitUntil(60000) {
      failIfDead(app)
      app.mainQuery.recentProgress.map(_.numInputRows).sum >= in.instances.size
    }
    Log.phase(s"setups $setups, registrations settled")

    val gen = if (paced) {
      val perTick = (Rate * TickMs / 1000).toInt
      val nTicks = (a.seconds * 1000 / TickMs).toInt
      val ticks = stream.take(perTick * nTicks).grouped(perTick).zipWithIndex
        .map { case (rs, j) => Tick(j * TickMs, rs) }.toSeq
      val updates = Iterator.iterate(ClassEveryMs / 2 + rnd.nextInt(1000).toLong)(
        _ + ClassEveryMs - 500 + rnd.nextInt(1000)).takeWhile(_ < a.seconds * 1000L)
        .zipWithIndex.map { case (off, i) =>
          val (_, body) = in.classes(rnd.nextInt(in.classes.size))
          // Flip latchable: every member's registration changes.
          val flipped = if (body.contains("\"latchable\":true"))
            body.replace("\"latchable\":true", "\"latchable\":false")
          else body.replace("\"latchable\":false", "\"latchable\":true")
          (off, i, flipped)
        }.toSeq
      new Generator(paths, ticks, updates, Some(ShelveMs), backlog = false)
    } else {
      // The backlog: every record at once, one file per 2,000 records.
      new Generator(paths, stream.grouped(2000).map(rs => Tick(0, rs)).toSeq, Nil, None,
        backlog = true)
    }
    gen.startMs = System.currentTimeMillis() + 100
    val cpu0 = Meters.cpuSeconds()
    val steal0 = Meters.stealSeconds()
    gen.start()
    Log.phase("window opens")

    // Window: until every generator file is consumed by a committed main batch.
    val genFiles = () => gen.written.synchronized(gen.written.map(_._1).toSet)
    val directTopics = (f: String) => !f.contains("/classes/")
    val deadline = System.currentTimeMillis() + 120000
    def consumed() = consumedBy(s"${paths.checkpoint}/main").keySet
    var done = false
    while (!done && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      failIfDead(app)
      done = !gen.isAlive && {
        val c = consumed()
        genFiles().filter(directTopics).forall(c)
      }
    }
    val consumedAt = System.currentTimeMillis()
    val cpuS = Meters.cpuSeconds() - cpu0
    val heapMb = Meters.liveHeapMb()
    Log.phase("input consumed")
    // The traced run also waits for the last shelve expiry and its
    // feedback, which only per-layer metrics read.
    if (a.trace && paced) awaitUntil(math.max(0L,
      gen.startMs + a.seconds * 1000L + ShelveMs + 2000 - System.currentTimeMillis()))(false)
    stop(app)
    Log.phase("stopped")
    val stealS = Meters.stealSeconds() - steal0

    val progress: Map[String, Seq[StreamingQueryProgress]] = trace match {
      case Some(t) => Trace.drainBus(spark); t.streamProgress.groupBy(_.id).map { case (id, ps) =>
        queries(app).find(_._2.id == id).map(_._1).getOrElse(id.toString) -> ps.sortBy(_.batchId) }
      case None => queries(app).map { case (n, q) => n -> q.recentProgress.toSeq.sortBy(_.batchId) }.toMap
    }
    val mainP = progress.getOrElse("main", Nil)
    val visible = mainP.map(p => p.batchId -> visibleMs(p)).toMap
    val mainBy = consumedBy(s"${paths.checkpoint}/main")

    // ------------------------------------------------ latency samples
    // (backlog files are all due at the moment they were published)
    val written = gen.written.toList
    val direct = written.filter(w => directTopics(w._1))
    val seen = direct.flatMap { case (f, due, n) => mainBy.get(f).flatMap(visible.get).map(v => (v, due, n)) }
    val lat = seen.flatMap { case (v, due, n) => Seq.fill(n)(v - due) }
    val nRecords = direct.map(_._3).sum
    val spanMs = seen.map(_._1).maxOption.getOrElse(0.0) - gen.startMs

    // ------------------------------------------------ correctness fold
    val check = Fold.check(spark, paths, mainBy, visible, a.corrupt)
    Log.phase("fold checked")

    val e2e = Map(
      "setup_s" -> Metric(Stats.p50(setups), "s"),
      "cpu_s" -> Metric(cpuS, "s"),
      "peak_heap_mb" -> Metric(heapMb, "MB"),
      "latency_p50_ms" -> Metric(Stats.p50(lat), "ms"),
      "latency_p99_ms" -> Metric(Stats.pct(lat, 99), "ms"),
      "throughput_per_s" -> Metric(nRecords / (spanMs / 1000.0), "1/s"))

    val perLayer = trace.map { t =>
      val spans = new Spans
      val wid = spans.add(0, "workload", a.workload, gen.startMs.toDouble, consumedAt.toDouble)
      val batchIds = mutable.HashMap[(String, Long), Long]()
      val runIds = queries(app).map { case (n, q) => q.runId.toString -> n }.toMap
      progress.foreach { case (n, ps) => ps.foreach { p =>
        val s = startMs(p)
        batchIds((n, p.batchId)) = spans.add(wid, s"app.$n", s"$n batch ${p.batchId}", s,
          s + dur(p, "triggerExecution"), Map("input_rows" -> p.numInputRows.toDouble))
      } }
      t.addJobSpans(spans, j => runIds.get(j.group).flatMap { n =>
        "batch = (\\d+)".r.findFirstMatchIn(j.desc).flatMap(m => batchIds.get((n, m.group(1).toLong)))
      })
      t.uninstall()
      val layer = StreamLayers.metrics(progress, paths, written, mainBy, visible, check,
        gen.startMs.toDouble, gen.lateMs.toSeq, t.callbackMs)
      (layer, spans)
    }

    spark.stop()
    // Operations: every generated record (failed when no committed main
    // batch consumed it) and every alarm's final state (failed on mismatch).
    val undelivered = nRecords - seen.map(_._3).sum
    Outcome(
      attempted = (nRecords + check.alarms).toLong,
      failed = (undelivered + check.mismatches.size).toLong,
      endToEnd = e2e,
      perLayer = perLayer.map(_._1).getOrElse(Map.empty),
      notes = Map(
        "setup_s" -> Json.arr(setups.map(Json.num)),
        "records" -> nRecords.toString,
        "alarms_checked" -> check.alarms.toString,
        "alarm_mismatches" -> Json.arr(check.mismatches.take(20).map(Json.str)),
        "gen_late_ms_max" -> Json.num(gen.lateMs.maxOption.getOrElse(0.0)),
        "host_steal_s" -> Json.num(stealS)) ++
        perLayer.map { case (_, spans) => Map(
          "self_ms" -> Json.obj(spans.selfMsByLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
          "spans" -> spans.json) }.getOrElse(Map.empty))
  }
}
