#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine; print one JSON line.

    python3 perfbench/run.py --workload features|serve|train --seed N
                             --seconds S --trace 0|1 [--smoke]

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Each run generates its inputs from --seed,
starts one JVM (perfbench.Main) in a scratch directory under
.bench_build/, measures for --seconds, checks the outputs, and prints as
its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the full traced record (every layer figure of the
workload, per-query and per-route detail) is written to
.bench_build/trace/<workload>.json. --smoke runs a workload at its small
size, for checking the benchmark itself. The run's scratch directory is
removed unless the run fails or its output check does; then it is kept
for inspection and its path printed to stderr.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# workload -> (full size, smoke size, scale factor of the generated tables,
# embeddings rows). Size: features = scale factor; serve = requests per
# pass; train = synthetic transactions.
SIZES = {
    "features": ((0.01, 0.01, 500), (0.001, 0.001, 500)),
    "serve": ((2400, 0.01, 2000), (240, 0.001, 500)),
    "train": ((10000, 0.001, 500), (2000, 0.001, 500)),
}

# printed with --trace 0; the harness also reports p50_ms, which is kept in
# the trace record only: on a 4-core VM the serve /score p50 spread 35 %
# between runs of identical code
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "live_heap_mb": "MB"}
LAYER_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_s": "s", "spark.driver_only_s": "s", "spark.parallelism": "ratio",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.input_rows": "count",
    "spark.codegen_s": "s", "spark.codegen_classes": "count",
    "jvm.jit_s": "s", "jvm.gc_s": "s",
}

# the engine's launch flags (build.sbt javaOptions): JDK 17 module opens
# for Spark, UTC sessions, a code cache the whole slice fits in
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_FLAGS = ([f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] +
             ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Xmx3g", "-XX:ReservedCodeCacheSize=512m"])

JVM_TIMEOUT_S = 160


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


CHILDREN = []


def child(cmd, timeout, **kw):
    """Run a child process to completion within `timeout` seconds; a child
    still running at the timeout, or when this process is told to stop, is
    killed and waited for. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None
    finally:
        CHILDREN.remove(p)


def on_signal(signum, _frame):
    for p in CHILDREN:
        p.kill()
        p.wait()
    sys.exit(128 + signum)


def source_stamp():
    """Hash of every input of the build, to reuse a build while unchanged."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], 840,
                   cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def check_features(work, data):
    """Hash-compare every slice query's dump with its DuckDB oracle, using
    the engine's own tools/check_oracle.py. Returns (checked, failed)."""
    slice_ = json.load(open(os.path.join(work, "slice.json")))
    env = dict(os.environ, DUCK_SPILL_DIR=os.path.join(work, "duck_spill"),
               DUCK_MEM_LIMIT="2GB")
    log = os.path.join(work, "check_oracle.log")
    with open(log, "w") as out:
        child([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), data,
               os.path.join(work, "verify"), "--hash", "--only=" + ",".join(slice_)], 60,
              cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
    with open(log) as f:
        passed = set(re.findall(r"\[PASS\] (\S+)", f.read()))
    bad = [q for q in slice_ if q not in passed]
    if bad:
        print(f"run.py: oracle check failed for {bad}; see {log}", file=sys.stderr)
    return len(slice_), len(bad)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    cp = build()
    size, sf, n_emb = SIZES[a.workload][1 if a.smoke else 0]
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    ok = False
    try:
        if child([sys.executable, os.path.join(HERE, "gen_data.py"), data, str(sf),
                  str(a.seed), str(n_emb)], 120) != 0:
            fail("input generation failed")
        out = os.path.join(work, "result.json")
        cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                       "-cp", cp, "perfbench.Main", a.workload, data, work,
                                       out, str(a.seconds), str(a.trace), str(a.seed), str(size)])
        with open(os.path.join(work, "jvm.log"), "w") as log:
            rc = child(cmd, JVM_TIMEOUT_S, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        if rc is None:
            fail(f"{a.workload} JVM exceeded {JVM_TIMEOUT_S} s")
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                tail = f.read()[-3000:]
            fail(f"{a.workload} JVM exited {rc}:\n{tail}")
        res = json.load(open(out))
        attempted, failed, correct = res["attempted"], res["failed"], res["correct"]
        for n in res["notes"]:
            print(f"run.py: {n}", file=sys.stderr)
        if a.workload == "features":
            checked, bad = check_features(work, data)
            attempted += checked
            failed += bad
            correct = correct and bad == 0
        if a.trace:
            os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
            record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                      "smoke": a.smoke, "attempted": attempted, "failed": failed,
                      "correct": correct, "end_to_end": res["e2e"],
                      "layers": res["layers"], "detail": res["detail"]}
            with open(os.path.join(BUILD, "trace", f"{a.workload}.json"), "w") as f:
                json.dump(record, f, indent=1, sort_keys=True)
            names, values = LAYER_UNITS, res["layers"]
        else:
            names, values = E2E_UNITS, res["e2e"]
        missing = [n for n in names if values.get(n) is None]
        if missing:
            fail(f"{a.workload} did not report {missing}")
        print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                          "metrics": {n: {"value": values[n], "unit": u}
                                      for n, u in names.items()}}))
        ok = bool(correct)
    finally:
        if ok:
            shutil.rmtree(work, ignore_errors=True)
        else:
            print(f"run.py: kept the run's scratch directory {work}", file=sys.stderr)


if __name__ == "__main__":
    main()
