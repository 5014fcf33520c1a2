#!/usr/bin/env python3
"""Write the committed traced-run records under perfbench/traces/.

For each variant: one untraced and one traced run with the same seed.
The record keeps the per-layer metrics and spans of the traced run, the
self time of each span layer, both runs' end-to-end metrics, and the
tracing overhead (traced minus untraced) per end-to-end metric.

    python3 perfbench/trace_record.py [--seed N] [VARIANT ...]

Variants: every workload with its defaults, the alarm workloads on the
transformWithState chain with the RocksDB state store (`-tws`), and
alarm_drain on one core (`-local1`), the single-threaded baseline.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

VARIANTS = {
    "alarm_paced": ("alarm_paced", []),
    "alarm_paced-tws": ("alarm_paced", ["--state-api", "tws"]),
    "alarm_drain": ("alarm_drain", []),
    "alarm_drain-tws": ("alarm_drain", ["--state-api", "tws"]),
    "alarm_drain-local1": ("alarm_drain", ["--cores", "1"]),
    "batch_heavy": ("batch_heavy", []),
}


def run(workload, seed, seconds, trace, extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def result_file(workload, seed, trace, extra):
    state = extra[extra.index("--state-api") + 1] if "--state-api" in extra else "fmgws"
    cores = extra[extra.index("--cores") + 1] if "--cores" in extra else len(os.sched_getaffinity(0))
    return os.path.join(HERE, "out", "results",
                        f"{workload}-s{seed}-t{trace}-{state}-c{cores}-sf0.1.json")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    default=json.load(open("BENCHMARK.json"))["run_seconds"])
    ap.add_argument("variants", nargs="*", default=list(VARIANTS))
    a = ap.parse_args()
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    for v in a.variants:
        workload, extra = VARIANTS[v]
        runs = {}
        for trace in (0, 1):
            line = run(workload, a.seed, a.seconds, trace, extra)
            with open(result_file(workload, a.seed, trace, extra)) as fh:
                runs[trace] = dict(json.load(fh), line=line)
        untraced = runs[0]["all"]["end_to_end"]
        traced = runs[1]["all"]["end_to_end"]
        overhead = {k: {"untraced": untraced[k]["value"], "traced": traced[k]["value"],
                        "delta": traced[k]["value"] - untraced[k]["value"],
                        "share": (traced[k]["value"] - untraced[k]["value"]) / untraced[k]["value"]
                        if untraced[k]["value"] else None, "unit": untraced[k]["unit"]}
                    for k in sorted(untraced)}
        notes = runs[1]["notes"]
        rec = {
            "variant": v, "workload": workload, "seed": a.seed, "seconds": a.seconds,
            "args": extra, "env": runs[1]["env"],
            "correct": {"untraced": runs[0]["correct"], "traced": runs[1]["correct"]},
            "attempted": runs[1]["attempted"], "failed": runs[1]["failed"],
            "per_layer": runs[1]["line"]["metrics"],
            "not_exercised": runs[1]["not_exercised"],
            "end_to_end": {"untraced": untraced, "traced": traced},
            "tracing_overhead": overhead,
            "self_ms": json.loads(notes["self_ms"]) if isinstance(notes["self_ms"], str)
            else notes["self_ms"],
            "notes": {k: v2 for k, v2 in notes.items() if k not in ("spans", "self_ms")},
            "spans": notes["spans"],
        }
        with open(os.path.join(HERE, "traces", f"{v}.json"), "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True)
        print(f"{v}: correct={rec['correct']} overhead(cpu_s)={overhead['cpu_s']['share']:.3f}",
              flush=True)


if __name__ == "__main__":
    main()
