#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark (a few minutes).

Runs every workload at sf0.001 with a 2 s stream window, untraced and
traced, and asserts that:
  * each run is correct, and prints every end-to-end (--trace 0) or
    per-layer (--trace 1) metric of BENCHMARK.json, finite, in its unit;
  * every per-layer metric is measured by at least one workload;
  * a deliberately corrupted expected output (--corrupt) makes the run
    report a failure, for the batch digests and for the stream fold.

    python3 perfbench/selftest.py        # from the repository root
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--sf", "0.001", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    return res


def record(workload, trace):
    cores = len(os.sched_getaffinity(0))
    with open(os.path.join(HERE, "out", "results",
                           f"{workload}-s7-t{trace}-fmgws-c{cores}-sf0.001.json")) as fh:
        return json.load(fh)


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    measured = set()
    # alarm_drain is not gated but is recorded in traces/, so it is tested too.
    for w in [x["name"] for x in spec["workloads"]] + ["alarm_drain"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (w, trace, res)
            for m in spec[key]:
                v = res["metrics"].get(m["name"])
                assert v is not None, f"{w} --trace {trace}: {m['name']} missing"
                assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (w, m, v)
                assert v["unit"] == m["unit"], (w, m, v)
                if key == "end_to_end":
                    assert v["value"] > 0, f"{w}: {m['name']} reads 0"
            assert len(res["metrics"]) == len(spec[key]), (w, sorted(res["metrics"]))
            if trace:
                measured |= set(res["metrics"]) - set(record(w, 1)["not_exercised"])
            print(f"ok  {w} --trace {trace}", flush=True)
    unmeasured = [m["name"] for m in spec["per_layer"] if m["name"] not in measured]
    assert not unmeasured, f"per-layer metrics no workload measures: {unmeasured}"
    print("ok  every per-layer metric is measured by some workload", flush=True)
    for w in ("batch_heavy", "alarm_paced"):
        res = run(w, 0, "--corrupt")
        assert not res["correct"] and res["failed"] >= 1, (w, res)
        print(f"ok  {w} reports a corrupted expected output as a failure", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
