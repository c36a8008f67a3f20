#!/usr/bin/env python3
"""Self-test of the benchmark: EP1 at tiny sizes, the sweep on its fixed
tables (about four minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that:
  - BENCHMARK.json names exactly the metrics run.py prints, with their units;
  - every workload runs, passes its gates with fail_frac = 0 and prints
    every end-to-end metric with its unit;
  - a traced run prints every per-layer metric and writes a trace file whose
    spans carry name, start, end, parent and run id;
  - a corrupted output (one span dropped from a seed-chosen partition of the
    EP1 table, one row dropped from a sweep query's result) fails the gate;
  - run.py exits non-zero without a result where the engine sources are
    missing.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(workload, trace=0, corrupt=0, cwd=ROOT, script=None):
    script = script or os.path.join(HERE, "run.py")
    proc = subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
         "--corrupt", str(corrupt)],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return proc


def result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(res, expected):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["attempted"] >= 1
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == expected, sorted(set(got.items()) ^ set(expected.items()))
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)

    for w in run.WORKLOADS:
        detail, res = result(bench(w))
        check_metrics(res, run.END_TO_END)
        assert res["correct"] and res["failed"] == 0 and detail["fail_frac"] == 0, detail
        for k in ("nproc", "mem_total_kb", "jdk", "spark", "source_sha256", "seed"):
            assert detail["host"][k] is not None, k
        assert set(detail["calibration_control_s"]) == {"before", "after"}
        print(f"ok  {w}: every end-to-end metric, fail_frac 0")

    detail, res = result(bench("ep1_bulk", trace=1))
    check_metrics(res, run.PER_LAYER)
    assert res["correct"], detail
    trace = json.load(open(os.path.join(ROOT, detail["trace_file"])))
    assert trace["spans"], "empty trace"
    for s in trace["spans"]:
        assert {"name", "start_s", "end_s", "parent", "run_id"} <= set(s), s
    print("ok  traced run: every per-layer metric, trace file with spans")

    for w in ("ep1_bulk", "query_sweep"):
        detail, res = result(bench(w, corrupt=1))
        assert not res["correct"] and res["failed"] >= 1, (w, res)
        print(f"ok  {w}: a corrupted output fails the gate ({detail['failures'][0][:80]})")

    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project/project"))
        proc = bench("ep1_bulk", cwd=bare, script=os.path.join(bare, "perfbench", "run.py"))
        assert proc.returncode != 0 and not proc.stdout.strip(), proc.stdout
        print("ok  without the engine sources: non-zero exit, no result")
    finally:
        shutil.rmtree(bare)
    print("self-test passed")


if __name__ == "__main__":
    main()
