#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload pipeline|queries --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the program from source if needed
(perfbench/build.py), makes the workload's inputs from the seed, runs the
workload in one JVM on local[nproc], checks its outputs, and prints
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json untraced, its per-layer metrics traced (a layer that does no
work on a workload reports 0). Spans of a traced run are written to
.bench_work/trace/<workload>.spans.jsonl. Exits non-zero, printing no
result, if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

JVM_HEAP = "4g"
LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(cmd, log_path, deadline):
    """Runs the JVM in its own process group; kills the group at the deadline."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def fail(msg, log_path=None):
    if log_path and os.path.exists(log_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    sys.exit(f"perfbench: {msg}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["pipeline", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    # part of the benchmark's command line; a run times one pass of the
    # workload whatever its value
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t0 = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    spec = json.load(open(spec_path))
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    first = not os.path.exists(os.path.join(build_dir, "classes", "SOURCES_DIGEST"))
    classes = build.build(os.path.abspath(build_dir))
    deadline = t0 + (FIRST_RUN_LIMIT_S if first else LIMIT_S)

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    if a.workload == "queries":
        import gendata
        gendata.generate(data, a.seed)

    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", "-XX:+UseParallelGC", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "graft.perfbench.PerfMain",
              "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
              "--work", work, "--data", data])
    log_path = os.path.join(base, f"{a.workload}.log")
    code = run_jvm(cmd, log_path, deadline)
    if code is None:
        fail("the workload did not finish in time", log_path)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"the workload exited with code {code}", log_path)
    res = json.load(open(result_path))

    checks = res["checks"]
    if a.workload == "queries":
        import oracle
        checks += [{"name": f"oracle.{n}", "ok": ok, "detail": d} for n, ok, d in
                   oracle.check(data, os.path.join(work, "out"),
                                os.path.join(work, "oracle_sql.json"))]
    for c in checks:
        if not c["ok"]:
            print(f"perfbench: check {c['name']} failed: {c['detail']}", file=sys.stderr)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if not a.trace and missing:
        fail(f"metrics missing from the run: {missing}", log_path)
    metrics = {m["name"]: {"value": got.get(m["name"], {"value": 0})["value"], "unit": m["unit"]}
               for m in wanted}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": bool(checks) and all(c["ok"] for c in checks),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
