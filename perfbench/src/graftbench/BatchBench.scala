package graftbench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/**
 * `batch_heavy`: the slow executor-bound `SparkEntry.queries`, each timed
 * alone the way `graft.Bench` isolates them (caches cleared and a GC
 * outside the timer, the query's own persists scoped to it), results
 * written to the noop sink. An order-insensitive digest of every result
 * rides along through `observe` and is compared, after the timed pass,
 * with digests that were checked against the DuckDB oracle when the
 * benchmark was built.
 */
object BatchBench {

  /**
   * Query -> the module its SparkEntry entry calls (its layer): the
   * slowest query of each family at sf0.1, one per family so that a
   * run (warm-up included) stays near a minute.
   */
  val Queries: Seq[(String, String)] = Seq(
    "bin_fold_digest" -> "sources.bin",
    "corpus_curate" -> "ops",
    "ingest_screen_tokens" -> "functions.ingest",
    "nb_score_bounded" -> "functions.text",
    "jaccard_ngram" -> "functions.dedup",
    "embed_neardup_lsh" -> "functions.vectors",
    "jaws_effective_alarms" -> "rules")

  val Families: Seq[String] = Seq("ops", "rules", "functions.dedup", "functions.ingest",
    "functions.vectors", "functions.text", "sources.bin")

  val FamilyMetrics: Seq[(String, String)] = Seq(
    "executor_cpu_s" -> "s", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "gc_s" -> "s", "max_task_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "planning_ms" -> "ms", "build_s" -> "s")

  final case class Digest(rows: Long, xor: Long, sum: Long) {
    def json: String = Json.obj(Seq("rows" -> rows.toString,
      "xor" -> Json.str(xor.toString), "sum" -> Json.str(sum.toString)))
  }

  private def fn(name: String) = graft.SparkEntry.queries(name)

  /**
   * Result digest: row count, XOR and 24-bit sum of per-row xxhash64 over
   * the columns in name order, so neither row nor column order matters.
   */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)
    (df.observe(obs, count(lit(1)).as("rows"), bit_xor(h).as("xor"),
      sum(h.bitwiseAND(lit(0xFFFFFFL))).as("sum")), obs)
  }
  def digestOf(obs: Observation): Digest = {
    val m = obs.get
    def l(k: String) = Option(m(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    Digest(l("rows"), l("xor"), l("sum"))
  }

  /** Warm-up: every query once on the tiny tables, `threads` at a time. */
  private def warmUp(spark: SparkSession, dir: String, order: Seq[String], threads: Int): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fs = order.map { q => Future {
        spark.sparkContext.setJobGroup(s"warmup:$q", s"warmup:$q", interruptOnCancel = false)
        try graft.GraftCaches.scoped {
          fn(q)(spark, dir).write.format("noop").mode("overwrite").save()
        } catch { case _: Throwable => () }
        finally spark.sparkContext.clearJobGroup()
      } }
      Await.result(Future.sequence(fs), Duration.Inf)
    } finally pool.shutdown()
  }

  def run(a: Args): Outcome = {
    val t0 = System.nanoTime()
    val spark = Session.start(a)
    val order = new Random(a.seed).shuffle(Queries.map(_._1))
    Log.phase("session")
    warmUp(spark, s"${a.data}/sf0.001", order, a.cores)
    Log.phase("warm-up")
    graft.GraftCaches.clearAll()
    spark.catalog.clearCache()
    val setupS = (System.nanoTime() - t0) / 1e9

    val trace = if (a.trace) Some(new Trace(spark).install()) else None
    val spans = new Spans
    val dir = s"${a.data}/sf${a.sf}"
    val wStart = System.currentTimeMillis().toDouble
    val results = order.map { q =>
      graft.GraftCaches.clearAll()
      spark.catalog.clearCache()
      System.gc()
      spark.sparkContext.setJobGroup(q, q, interruptOnCancel = false)
      val c0 = Meters.cpuSeconds()
      val startMs = System.currentTimeMillis().toDouble
      val s0 = System.nanoTime()
      var wall, cpu, heap = 0.0
      val res = try {
        val (buildS, obs) = graft.GraftCaches.scoped {
          val built = fn(q)(spark, dir)
          val b = (System.nanoTime() - s0) / 1e9
          val (d, o) = observed(built, q)
          d.write.format("noop").mode("overwrite").save()
          wall = (System.nanoTime() - s0) / 1e9
          cpu = Meters.cpuSeconds() - c0
          heap = Meters.liveHeapMb() // the query's own persists still held
          (b, o)
        }
        Right((buildS, digestOf(obs)))
      } catch { case e: Throwable =>
        wall = (System.nanoTime() - s0) / 1e9
        cpu = Meters.cpuSeconds() - c0
        Left(e.toString.takeWhile(_ != '\n').take(300))
      }
      spark.sparkContext.clearJobGroup()
      (q, wall, cpu, res, heap, startMs)
    }
    val heapMb = results.map(_._5).max
    Log.phase("measured pass")

    // Output check, outside the timed pass.
    val expected = Expected.load(a.expected)
    val mismatches = results.flatMap { case (q, _, _, res, _, _) =>
      (res, expected.get(q)) match {
        case (Left(err), _) => Some(q -> s"failed: $err")
        case (Right((_, d)), Some(Right(want))) if d == want && !(a.corrupt && q == order.head) => None
        case (Right((_, d)), Some(Right(want))) => Some(q -> s"digest ${d.json} != ${want.json}")
        case (_, Some(Left(why))) => Some(q -> why)
        case (_, None) => Some(q -> "no expected digest")
      }
    }.toMap

    val walls = results.map(_._2)
    val total = walls.sum
    val e2e = Map(
      "setup_s" -> Metric(setupS, "s"),
      "cpu_s" -> Metric(results.map(_._3).sum, "s"),
      "peak_heap_mb" -> Metric(heapMb, "MB"),
      "latency_p50_ms" -> Metric(Stats.p50(walls) * 1000, "ms"),
      "latency_p99_ms" -> Metric(Stats.pct(walls, 99) * 1000, "ms"),
      "throughput_per_s" -> Metric(results.size / total, "1/s"))

    val perLayer = trace.map { t =>
      t.uninstall()
      val groups = t.byGroup
      val wid = spans.add(0, "workload", a.workload, wStart,
        results.map(r => r._6 + r._2 * 1000).max)
      val qid = results.map { case (q, wall, _, _, _, start) =>
        q -> spans.add(wid, "query", q, start, start + wall * 1000)
      }.toMap
      t.addJobSpans(spans, j => qid.get(j.group))
      val fam = Queries.toMap
      Families.flatMap { f =>
        val qs = results.filter(r => fam(r._1) == f)
        val gs = qs.flatMap(r => groups.get(r._1))
        val build = qs.map(_._4 match { case Right((b, _)) => b; case _ => 0.0 }).sum
        Seq(
          "executor_cpu_s" -> gs.map(_.cpuS).sum,
          "shuffle_bytes" -> gs.map(_.shuffleBytes).sum,
          "spill_bytes" -> gs.map(_.spillBytes).sum,
          "gc_s" -> gs.map(_.gcS).sum,
          "max_task_ms" -> (if (gs.isEmpty) 0.0 else gs.map(_.maxTaskMs).max),
          "jobs" -> gs.map(_.jobs).sum.toDouble,
          "tasks" -> gs.map(_.tasks).sum.toDouble,
          "planning_ms" -> gs.map(_.planningMs).sum,
          "build_s" -> build).map { case (k, v) =>
          s"$f.$k" -> Metric(v, FamilyMetrics.toMap.apply(k)) }
      }.toMap ++ Map("trace.callback_ms" -> Metric(t.callbackMs, "ms"))
    }.getOrElse(Map.empty)

    spark.stop()
    Outcome(
      attempted = results.size.toLong,
      failed = mismatches.size.toLong,
      endToEnd = e2e,
      perLayer = perLayer,
      notes = Map(
        "order" -> Json.arr(order.map(Json.str)),
        "query_s" -> Json.obj(results.map(r => r._1 -> Json.num(r._2))),
        "mismatches" -> Json.obj(mismatches.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }),
        "self_ms" -> Json.obj(spans.selfMsByLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "spans" -> spans.json))
  }

  /**
   * Build-time step: each query at sf0.1 written to parquet for the DuckDB
   * oracle compare in `oracle.py`, with the digest the timed pass will
   * observe, and the oracle SQL the program declares for it.
   */
  def dumpForOracle(a: Args): Unit = {
    val spark = Session.start(a)
    val dir = s"${a.data}/sf${a.sf}"
    val digests = Queries.map(_._1).map { q =>
      q -> (try graft.GraftCaches.scoped {
        val (df, obs) = observed(fn(q)(spark, dir), q)
        df.coalesce(1).write.mode("overwrite").parquet(s"${a.work}/$q")
        digestOf(obs).json
      } catch { case e: Throwable => Json.str(e.toString.take(300)) })
    }
    val names = Queries.map(_._1).toSet
    val sql = (graft.SparkEntry.oracleSql ++ graft.SparkEntry.dynamicOracleSql(spark, dir))
      .filter { case (k, _) => names(k) }
    Json.write(java.nio.file.Paths.get(a.out), Json.obj(Seq(
      "digests" -> Json.obj(digests),
      "oracle_sql" -> Json.obj(sql.toSeq.map { case (k, v) => k -> Json.str(v) }))))
    spark.stop()
  }
}

/** Expected digests: query -> digest, or -> the reason it has none. */
object Expected {
  def load(path: String): Map[String, Either[String, BatchBench.Digest]] =
    if (path.isEmpty || !java.nio.file.Files.exists(java.nio.file.Paths.get(path))) Map.empty
    else {
      val root = Json.parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"))
      val it = root.get("digests").properties().iterator()
      val out = Map.newBuilder[String, Either[String, BatchBench.Digest]]
      while (it.hasNext) {
        val e = it.next()
        val v = e.getValue
        out += e.getKey -> (if (v.isTextual) Left(v.asText) else Right(BatchBench.Digest(
          v.get("rows").asLong, v.get("xor").asText.toLong, v.get("sum").asText.toLong)))
      }
      out.result()
    }
}
