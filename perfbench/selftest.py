#!/usr/bin/env python3
"""Self-test of the benchmark at the smallest size.

    python3 perfbench/selftest.py

Runs every workload with --size tiny (gate_flow inputs at sf 0.001, a
120-action wide_dag, 400-key audit tables) for one second, untraced and
traced, and checks that each run's last stdout line has the result keys,
passes its output checks, and emits every metric BENCHMARK.json names, with
a finite value. It also checks that each workload exercises the layers the
benchmark maps to it. Prints every failed check and exits non-zero if any.
"""
import fnmatch
import json
import math
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# per-layer metrics (glob patterns) each workload must report as measured,
# that is non-zero
EXERCISED = {
    "gate_flow": ["operators.*.busy_s", "operators.*.task_s", "commit.stage_s",
                  "actions.open_s", "spark.tasks", "dataflow.actions"],
    "audit_ingest": ["storage.append_s_p50", "storage.compact_s", "storage.snapshot_s",
                     "storage.point_lookup_s.bloom", "storage.point_lookup_s.scan",
                     "spark.tasks", "dataflow.actions"],
    "wide_dag": ["dataflow.build_s", "dataflow.actions", "dataflow.concurrency_avg"],
}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for wl in [w["name"] for w in spec["workloads"]]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            proc = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", wl, "--seed", "7",
                 "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{wl} trace={trace}: exit {proc.returncode}: {proc.stderr[-500:]}")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{wl} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: correct={res['correct']} "
                                f"failed={res['failed']} attempted={res['attempted']}")
            names = {m["name"] for m in wanted}
            if set(res["metrics"]) != names:
                problems.append(f"{wl} trace={trace}: missing {sorted(names - set(res['metrics']))}, "
                                f"extra {sorted(set(res['metrics']) - names)}")
            for name, m in res["metrics"].items():
                if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
                    problems.append(f"{wl} trace={trace}: {name} = {m['value']}")
                if trace == 0 and m["value"] <= 0:
                    problems.append(f"{wl}: end-to-end metric {name} is {m['value']}")
            if trace == 1:
                for pattern in EXERCISED[wl]:
                    hits = fnmatch.filter(res["metrics"], pattern)
                    if not hits or any(res["metrics"][n]["value"] <= 0 for n in hits):
                        problems.append(f"{wl}: layer metrics {pattern} not measured")
            print(f"{wl} trace={trace}: {len(res['metrics'])} metrics, "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
