package graftbench

import java.nio.file.Paths

/**
 * JVM side of the benchmark. `run.py` builds, generates the tables and
 * starts one JVM per run:
 *
 *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
 *     --data DIR --work DIR --out FILE --cores N [--expected FILE]
 *     [--state-api fmgws|tws]
 *
 * and reads the JSON written to `--out`: operations attempted and failed,
 * end-to-end metrics, per-layer metrics (traced run only) and notes.
 */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    if (a.workload == "oracle_dump") {
      BatchBench.dumpForOracle(a)
      sys.exit(0)
    }
    val o = a.workload match {
      case "alarm_paced" => StreamBench.run(a, paced = true)
      case "alarm_drain" => StreamBench.run(a, paced = false)
      case "batch_heavy" => BatchBench.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rt = Runtime.getRuntime
    val env = Seq(
      "cpus" -> a.cores.toString,
      "heap_max_mb" -> Json.num(rt.maxMemory / 1048576.0),
      "jdk" -> Json.str(System.getProperty("java.vm.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "state_api" -> Json.str(a.stateApi),
      "seed" -> a.seed.toString)
    Json.write(Paths.get(a.out), Json.obj(Seq(
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "end_to_end" -> Json.metrics(o.endToEnd),
      "per_layer" -> Json.metrics(o.perLayer),
      "env" -> Json.obj(env),
      "notes" -> Json.obj(o.notes))))
    // Spark leaves non-daemon threads behind; the run is over.
    sys.exit(0)
  }
}
