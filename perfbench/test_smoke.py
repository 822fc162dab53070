#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload at its smoke size.

    python3 perfbench/test_smoke.py [--workloads features,serve,train]

For each workload it runs run.py --smoke with tracing off and on and
checks the printed record: the four keys, every end-to-end (untraced) or
per-layer (traced) metric of BENCHMARK.json with its unit, the failed
operations expected (none, but for serve's /stats check), a passing output
check, and a trace file holding the
workload's own layer figures. In a git checkout it also checks that a run
leaves the tracked files untouched.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# layer figures each workload's trace file must carry, beyond spark.*/jvm.*
TRACE_LAYERS = {
    "features": ["sources.scan_s", "queries.target_enc_s", "queries.windows_s",
                 "queries.scalar_s", "queries.eval_s", "queries.full_features_s"],
    "serve": ["ml.serving_fit_s", "operators.ann_build_s", "serve.registry_write_s",
              "serve.registry_load_s", "serve.start_s", "serve.local_score_us",
              "serve.local_ann_us", "serve.edge_score_us", "serve.edge_ann_us",
              "serve.req_bytes", "serve.resp_bytes"],
    "train": ["sources.synth_s", "operators.split_s", "operators.features_s",
              "operators.target_enc_s", "ml.gbt_fit_s", "ml.leafboost_fit_s",
              "ml.stack_fit_s", "eval.leaderboard_s", "serve.registry_write_s",
              "sources.artifact_write_s"],
}


# serve: one /stats check per pass of 240 requests fails, because the server
# counts every /ann/search as a prediction; every other operation passes
FAILED_PER_OPS = {"serve": 241}


def git_status():
    r = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                       text=True)
    return r.stdout if r.returncode == 0 else None


def run(workload, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
                       cwd=ROOT, capture_output=True, text=True)
    assert r.returncode == 0, f"{workload} trace={trace} exited {r.returncode}:\n{r.stderr}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="features,serve,train")
    a = ap.parse_args()
    before = git_status()
    for w in a.workloads.split(","):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            rec = run(w, trace)
            assert set(rec) == {"correct", "attempted", "failed", "metrics"}, rec
            assert rec["correct"] is True and rec["attempted"] >= 1, rec
            per = FAILED_PER_OPS.get(w)
            assert rec["failed"] * per == rec["attempted"] if per else rec["failed"] == 0, rec
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {n: m["unit"] for n, m in rec["metrics"].items()}
            assert got == want, f"{w} {kind}: {got} != {want}"
            for n, m in rec["metrics"].items():
                assert isinstance(m["value"], (int, float)), (w, n, m)
                if kind == "end_to_end":
                    assert m["value"] > 0, (w, n, m)
            print(f"ok  {w} trace={trace}: attempted={rec['attempted']}")
        layers = json.load(open(os.path.join(ROOT, ".bench_build", "trace", f"{w}.json")))["layers"]
        missing = [n for n in TRACE_LAYERS[w] if n not in layers]
        assert not missing, f"{w} trace file lacks {missing}"
        print(f"ok  {w} trace file")
    if before is not None:
        assert git_status() == before, "a benchmark run changed the repository's files"
        print("ok  repository files untouched")


if __name__ == "__main__":
    main()
