#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run, timed end to end or traced.

    python3 perfbench/run.py --workload gate_flow --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
benchmark with sbt (perfbench/build.sbt) and caches the classpath under
perfbench/.build; later runs rebuild only when a source file changed. The
inputs are generated from --seed; the JVM side (perfbench/src) runs the
workload for --seconds and reports its figures, this script checks the
outputs and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end_to_end metrics of BENCHMARK.json, --trace 1 the
per_layer ones. The full artifact (environment, failures with their cause,
every figure, the span file) goes to perfbench/.out/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
BUILD = os.path.join(BENCH, ".build")
OUT = os.path.join(BENCH, ".out")
WORKLOADS = ["gate_flow", "audit_ingest", "wide_dag"]
# gate_flow input scale (TPC-H-style scale factor) per run size
GATE_SF = {"full": 0.01, "tiny": 0.001}
RUN_TIMEOUT_S = 170
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPTS = ["-Xmx3g", "-Xss4m", "-XX:-UsePerfData"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: the program's and the benchmark's."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds when the sources changed since the last build; returns the
    runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building (sbt compile + export classpath)")
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                           "export Runtime/fullClasspath"],
                          cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                          text=True, timeout=880)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(proc.stdout + proc.stderr)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {proc.returncode}); see {BUILD}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def cpu_canary():
    """Seconds for a fixed amount of single-core hashing: a contended machine
    shows up as a slower canary. Changes no reported figure."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return round(time.perf_counter() - t0, 6)


def machine():
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg()),
            "canary_s": cpu_canary(), "time": time.time()}


def gate_oracle(proc, work, data, deadline):
    """Computes the DuckDB oracle of every gate_flow label while the JVM runs
    its untimed warm-up flow: it writes the oracle SQL when the warm-up
    starts and waits for `oracle_done` before its first measured round."""
    import oracle
    sql_file = os.path.join(work, "oracle_sql.json")
    while not os.path.exists(sql_file):
        if proc.poll() is not None or time.time() > deadline:
            return None
        time.sleep(0.05)
    with open(sql_file) as f:
        refs = oracle.expected(data, json.load(f), os.path.join(work, "duckdb-tmp"))
    open(os.path.join(work, "oracle_done"), "w").close()
    return refs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(GATE_SF), default="full",
                    help="tiny: smallest inputs, for the self-test")
    args = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not beside "
             "perfbench/: run from a full checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    env_start = machine()
    t_build = time.time()
    cp = classpath()
    # the run's own time limit does not count the build
    deadline = t_start + (time.time() - t_build) + RUN_TIMEOUT_S
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BENCH, ".work", f"{tag}-{os.getpid()}")
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(data, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    result_file = os.path.join(OUT, f"{tag}.jvm.json")
    phase = {}
    try:
        t = time.time()
        if args.workload == "gate_flow":
            import datagen
            datagen.write(args.seed, GATE_SF[args.size], data, datagen.TABLES)
        phase["datagen"], t = time.time() - t, time.time()
        cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
               f"-Dperfbench.size={args.size}", "-cp", cp, "perfbench.Main",
               args.workload, str(args.seed), str(args.seconds), str(args.trace), str(cores),
               data, work, result_file])
        refs = None
        with open(os.path.join(OUT, f"{tag}.log"), "w") as logf:
            proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=logf,
                                    stderr=subprocess.STDOUT)
            try:
                if args.workload == "gate_flow":
                    refs = gate_oracle(proc, work, data, deadline)
                code = proc.wait(timeout=max(10, deadline - time.time()))
            except subprocess.TimeoutExpired:
                fail(f"{args.workload} did not finish within {RUN_TIMEOUT_S}s")
            finally:  # also on SIGTERM: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(result_file):
            fail(f"JVM exited with {code}; see {OUT}/{tag}.log")
        with open(result_file) as f:
            res = json.load(f)
        phase["jvm"], t = time.time() - t, time.time()

        attempted, failures = res["attempted"], list(res["failures"])
        if args.workload == "gate_flow":
            import oracle
            gate_fail = oracle.check_gate(res["gate"], refs or {})
            attempted += len(res["gate"]["labels"])
            failures += [{"op": f"oracle/{label}", "class": "OracleMismatch", "message": why}
                         for label, why in gate_fail]
        phase["check"] = time.time() - t
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = res["e2e"] if args.trace == 0 else res["layers"]
    wanted = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "machine_start": env_start,
        "machine_end": machine(), "attempted": attempted, "failed": len(failures),
        "failed_ratio": len(failures) / max(1, attempted), "failures": failures,
        "metrics": metrics, "not_exercised": sorted(m["name"] for m in wanted
                                                    if m["name"] not in values),
        "jvm": res, "phase_s": phase, "wall_s": time.time() - t_start}
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for fl in failures:
        log(f"FAILED {fl['op']}: {fl['class']}: {fl['message']}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
