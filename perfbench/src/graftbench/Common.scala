package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the JVM side; `run.py` fills every field. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    data: String, // directory of the generated sf tables
    work: String, // scratch directory of this run (deleted by run.py)
    out: String, // result JSON path
    expected: String, // batch digest file ("" when absent)
    inputs: String, // alarm changelog cache file
    cores: Int,
    stateApi: String, // "fmgws" (the app default) | "tws"
    sf: String, // scale of the measured tables: "0.1", or "0.001" for the self-test
    corrupt: Boolean) // self-test: falsify one expected output

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("work"), m("out"), m.getOrElse("expected", ""), m.getOrElse("inputs", ""),
      m("cores").toInt, m.getOrElse("state-api", "fmgws"), m.getOrElse("sf", "0.1"),
      m.getOrElse("corrupt", "0") == "1")
  }
}

/** One metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back to [[Main]]. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    endToEnd: Map[String, Metric],
    perLayer: Map[String, Metric],
    notes: Map[String, String] = Map.empty)

object Log {
  private val t0 = System.nanoTime()
  /** Phase marks on stderr (the run's jvm.log), seconds since JVM start of the harness. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%8.2f s  $what")
}

object Stats {
  /** Linear-interpolated percentile (numpy's default); NaN when empty. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def p50(xs: Iterable[Double]): Double = pct(xs, 50)
  /** 0 for an empty sample, so per-layer output stays finite. */
  def p50or0(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else p50(xs)
}

/**
 * Process-level meters read from outside the program: CPU seconds of the
 * whole JVM, live heap, and host CPU steal from /proc/stat.
 */
object Meters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Host steal seconds since boot (`/proc/stat` cpu line, USER_HZ=100). */
  def stealSeconds(): Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).get.trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
    } catch { case _: Throwable => 0.0 }

  /**
   * Heap still in use after a full collection: what the work at hand
   * retains. Sampled at the end of each unit of measured work, outside
   * its timing; a sample from GC notifications instead would depend on
   * when the collector happened to run.
   */
  def liveHeapMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def metrics(m: Map[String, Metric]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> obj(Seq("value" -> num(v.value), "unit" -> str(v.unit))) })

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}

object Session {
  /**
   * The program's own session factory at the bench's pinned parallelism:
   * local[cores] with shuffle partitions = cores (GraftSession.local
   * ties the two together).
   */
  def start(a: Args): SparkSession = {
    val spark = graft.GraftSession.local(a.cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Collects spans in memory; written once when the run ends. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double])

final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  private var next = 1L
  def add(parent: Long, layer: String, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Double] = Map.empty): Long = synchronized {
    val id = next; next += 1
    buf += Span(id, parent, layer, name, startMs, endMs, attrs)
    id
  }
  def all: Seq[Span] = synchronized(buf.toList)

  /**
   * Self time per layer: a span's duration minus the part of its interval
   * its children cover (children's intervals are merged first, so
   * concurrent children are not double-subtracted).
   */
  def selfMsByLayer: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = merge(kids.getOrElse(s.id, Nil).map(k =>
          (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
          .filter { case (a, b) => b > a })
        (s.endMs - s.startMs) - covered
      }.sum
    }
  }
  private def merge(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var cs = Double.NaN; var ce = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (cs.isNaN || a > ce) { if (!cs.isNaN) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  def json: String = Json.arr(all.map { s =>
    Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
      "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)) ++
      s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
  })
}
