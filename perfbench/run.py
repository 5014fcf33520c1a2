#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--state-api fmgws|tws] [--cores N]

Run from the repository root. The first run in a checkout builds the
program and the harness (perfbench/build.py), generates the input tables
(perfbench/gendata.py) and checks the batch queries once against the
DuckDB oracle (perfbench/oracle.py); later runs reuse all three while
the sources are unchanged. Everything is written under perfbench/out/.

Workloads (BENCHMARK.json says why each exists; METRICS.md defines
every metric):
  alarm_paced  AlarmProcessorApp fed at a fixed open-loop rate
  batch_heavy  the executor-bound SparkEntry queries at sf0.1
  alarm_drain  AlarmProcessorApp draining a backlog published at once
               (not in BENCHMARK.json; recorded by trace_record.py)

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
--trace 0, the per-layer metrics of BENCHMARK.json with --trace 1).
Tracing registers the bench's listeners; it is a separate run so the
end-to-end numbers never carry its cost. The full record of a run,
spans included, lands in perfbench/out/results/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout holds only what the repository commits

import build  # noqa: E402
import gendata  # noqa: E402

WORKLOADS = ("alarm_paced", "alarm_drain", "batch_heavy")
HEAP = "3g"  # fixed driver heap: peak_heap_mb is only comparable under one -Xmx
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def file_hash(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def steal_s():
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / 100.0 if len(cpu) > 8 else 0.0


def data_dirs():
    """Generate the tables once per generator version."""
    stamp = file_hash(os.path.join(HERE, "gendata.py"))
    base = os.path.join(OUT, "data", stamp)
    for sf in ("0.1", "0.001"):
        d = os.path.join(base, f"sf{sf}")
        if not os.path.exists(os.path.join(d, "_done")):
            shutil.rmtree(d, ignore_errors=True)
            gendata.generate(d, float(sf))
            open(os.path.join(d, "_done"), "w").close()
    return base


def java(classpath, args, work, env_extra=None, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "GRAFT_STATE_API"}
    env.update(SPARK_LOCAL_DIRS=os.path.join(work, "tmp"), **(env_extra or {}))
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m", *ADD_OPENS,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        why = f"exceeded {timeout}s" if rc is None else f"exited {rc}"
        raise SystemExit(f"perfbench: JVM {why}\n{tail}")


def expected_digests(classpath, prog_hash, data, sf, cores, verify):
    """Batch digests checked against the DuckDB oracle.

    perfbench/expected/batch_heavy-sf<SF>.json holds the digests verified for the
    committed generator; they are used while the generated tables are the
    same. Otherwise, or with --verify-oracle, the program's results are
    checked against the oracle again (written under perfbench/out, or
    over the committed file with --verify-oracle).
    """
    data_id = f"{os.path.basename(data)}-sf{sf}"
    committed = os.path.join(HERE, "expected", f"batch_heavy-sf{sf}.json")
    if not verify and os.path.exists(committed):
        with open(committed) as fh:
            if json.load(fh).get("data") == data_id:
                return committed
    path = committed if verify else os.path.join(OUT, "expected", f"{prog_hash}-{data_id}.json")
    if not verify and os.path.exists(path):
        return path
    import oracle
    work = os.path.join(OUT, "work", "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dump = os.path.join(work, "dump.json")
    log("checking batch_heavy outputs against the DuckDB oracle")
    java(classpath, ["--workload", "oracle_dump", "--seed", "0", "--seconds", "0", "--trace", "0",
                     "--data", data, "--work", os.path.join(work, "dump"), "--out", dump,
                     "--cores", str(cores), "--sf", sf], work, timeout=900)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    oracle.check(os.path.join(data, f"sf{sf}"), os.path.join(work, "dump"), dump, path + ".tmp",
                 data_id)
    os.replace(path + ".tmp", path)
    shutil.rmtree(work, ignore_errors=True)
    return path


def source_id(root):
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        try:
            return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                                  text=True, check=True).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    return None


def bench_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--state-api", choices=("fmgws", "tws"), default="fmgws",
                    help="chain state API for the alarm workloads (the app's GRAFT_STATE_API)")
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] and shuffle partitions (default: every CPU this process may use)")
    ap.add_argument("--verify-oracle", action="store_true",
                    help="check the batch queries against the DuckDB oracle again and "
                    "rewrite perfbench/expected/batch_heavy-sf<SF>.json")
    ap.add_argument("--sf", choices=("0.1", "0.001"), default="0.1",
                    help="scale of the measured tables (0.001 is the self-test's tiny size)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: falsify one expected output; the run must report it")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the repository root (no src/main/scala here)")
    spec = bench_spec(root)

    classpath, prog_hash = build.build(root)
    data = data_dirs()
    expected = expected_digests(classpath, prog_hash, data, a.sf, a.cores, a.verify_oracle)
    inputs = os.path.join(data, f"alarm-inputs-{prog_hash}-sf{a.sf}.txt")

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{a.state_api}-c{a.cores}-sf{a.sf}"
    work = os.path.join(OUT, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    env = {"GRAFT_STATE_API": "tws"} if a.state_api == "tws" else {}
    steal0 = steal_s()
    try:
        java(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--data", data, "--work", os.path.join(work, "app"), "--out", out,
                         "--cores", str(a.cores), "--expected", expected, "--inputs", inputs,
                         "--state-api", a.state_api, "--sf", a.sf,
                         "--corrupt", "1" if a.corrupt else "0"], work, env)
        with open(out) as fh:
            res = json.load(fh)
    finally:
        steal = steal_s() - steal0
        shutil.rmtree(work, ignore_errors=True)

    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["per_layer"] if a.trace else res["end_to_end"]
    if a.trace:
        got["host.steal_s"] = {"value": steal, "unit": "s"}
    metrics, not_exercised, bad = {}, [], []
    for m in want:
        v = got.get(m["name"])
        if v is None:
            # A layer this workload does not run (e.g. a batch family on a
            # stream workload) reads 0; the record names it.
            not_exercised.append(m["name"])
            v = {"value": 0.0, "unit": m["unit"]}
        if v["value"] is None or not math.isfinite(v["value"]) or v["unit"] != m["unit"]:
            bad.append(m["name"])
        metrics[m["name"]] = v
    correct = res["failed"] == 0 and not bad
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
              "failed_frac": res["failed"] / max(1, res["attempted"]),
              "metrics": metrics, "not_exercised": not_exercised, "bad_metrics": bad,
              "env": dict(res["env"], git_sha=source_id(root), program_hash=prog_hash,
                          host_steal_s=steal, heap=HEAP),
              "all": {"end_to_end": res["end_to_end"], "per_layer": res["per_layer"]},
              "notes": res["notes"], "finished": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", run_id + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if bad:
        log(f"metrics missing, non-finite or in the wrong unit: {bad}")
    if res["failed"]:
        log(f"{res['failed']} of {res['attempted']} operations failed: "
            f"{json.dumps(res['notes'].get('mismatches') or res['notes'].get('alarm_mismatches'))}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
