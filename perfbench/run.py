#!/usr/bin/env python3
"""Benchmark of the graft engine: the production EP1 job and a sweep of
oracle-gated registry queries. See perfbench/README.md.

    python3 perfbench/run.py --workload ep1_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline); later runs reuse the build while the
sources are unchanged. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The line before it carries the
run's details: host fingerprint, calibration controls, fail_frac and, for a
traced run, the trace file.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # write nothing next to the sources
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

WORKLOADS = ("ep1_bulk", "query_sweep")

# The sweep's tables: a copy of the engine's fixed sf0.01 test data (the
# TPC-H-style tables plus documents and embeddings), the scale its DuckDB
# oracles are checked at. The seed sets only the query order.
SWEEP_DATA = os.path.join(HERE, "data", "sf0.01")

# Sizes per scale. "full" is the benchmark; "tiny" is the self-test's.
SIZES = {
    "full": {"bulk-docs": 3000, "bulk-parts": 32, "companion-docs": 1000,
             "kernel-docs": 2000},
    "tiny": {"bulk-docs": 400, "bulk-parts": 8, "companion-docs": 200,
             "kernel-docs": 100},
}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s", "spans_out_per_s": "spans/s",
    "query_p50_s": "s", "query_p67_s": "s", "out_bytes_per_in_byte": "ratio",
    "peak_rss_mb": "MB",
}

FAMILIES = {
    "extract": ["ep1_extract", "f1_dollar_filter", "p1_boundaries", "r4_range_slice",
                "j2_three_way"],
    "qc": ["coverage_classify", "money_norm", "qc_fuzzy", "qc_head_content"],
    "dedup": ["minhash_dups", "simhash_dups", "dedup_clusters", "near_dup_bucketed"],
    "sql": ["topk_rewrite", "psl_domains"],
    "pipeline": ["pipeline_e2e"],
    "stream": ["stream_extract"],
}

PER_LAYER = dict(
    [("tableio.pending_s", "s"), ("tableio.pending_parts", "count"),
     ("tableio.write_s", "s"), ("tableio.files_out", "count"),
     ("tableio.bytes_out", "bytes"), ("tableio.lineage_read_s", "s"),
     ("tableio.lineage_append_s", "s"),
     ("skew.rebalance_s", "s"), ("skew.shuffle_bytes", "bytes"),
     ("skew.task_max_over_median", "ratio"),
     ("extractjob.rows_self_s", "s"), ("extractjob.stats_s", "s"),
     ("extractjob.jobs_per_batch", "count"), ("extractjob.batch_p50_s", "s"),
     ("extractjob.gc_s", "s"), ("extractjob.spill_bytes", "bytes"),
     ("ep1core.ns_per_doc", "ns/doc"), ("ep1core.alloc_bytes_per_doc", "bytes/doc"),
     ("pagesegmenter.parse_ns_per_span", "ns/span"),
     ("filters.ns_per_span", "ns/span"), ("filters.hit_frac", "ratio"),
     ("islands.ns_per_doc", "ns/doc"), ("islands.kept_page_frac", "ratio"),
     ("spark.no_task_s", "s"), ("spark.jobs", "count"), ("spark.tasks", "count"),
     ("spark.cpu_util", "ratio")]
    + [(f"sweep.{f}_{m}", u) for f in FAMILIES
       for m, u in (("s", "s"), ("plan_s", "s"), ("tasks", "count"),
                    ("shuffle_bytes", "bytes"))]
    + [(f"query.{q}_s", "s") for qs in FAMILIES.values() for q in qs]
    + [("trace.overhead_s", "s"), ("trace.unattributed_frac", "ratio")])

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

RUN_BUDGET_S = 160  # the JVM must end within it; the DuckDB gate follows


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def source_files():
    """The files a build depends on: the engine's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Builds engine + harness when the sources changed; returns the classpath."""
    stamp_file = os.path.join(STATE, "build", "stamp")
    cp_file = os.path.join(STATE, "build", "classpath")
    digest = source_hash()
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return open(cp_file).read().strip()
    log("building engine and harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return classpath


def java_cmd(classpath, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return ([java, "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + JVM_OPENS + ["-cp", classpath, "perfbench.BenchMain"]
            + [str(a) for a in args])


def run_jvm(classpath, work, args, deadline, log_name):
    """Runs one JVM to completion (or kills it at the deadline)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    t0_ms = int(time.time() * 1000)
    with open(os.path.join(work, log_name), "w") as err:
        proc = subprocess.Popen(java_cmd(classpath, work, ["--t0-ms", t0_ms] + args),
                                stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"JVM exceeded the run budget ({log_name})")
    with open(os.path.join(work, log_name)) as fh:
        text = fh.read()
    sys.stderr.write("".join(line + "\n" for line in text.splitlines()
                             if line.startswith("[perfbench]")))
    if proc.returncode != 0:
        sys.stderr.write(text[-6000:])
        raise SystemExit(f"JVM failed with code {proc.returncode} ({log_name})")
    return out


def fingerprint(seed, jvm):
    mem_kb = next((int(line.split()[1]) for line in open("/proc/meminfo")
                   if line.startswith("MemTotal:")), 0)
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {"nproc": cores(), "mem_total_kb": mem_kb, "jdk": jvm.get("java_version"),
            "spark": jvm.get("spark_version"), "git_commit": commit,
            "source_sha256": source_hash(), "seed": seed}


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a beta-weighted mean of all
    order statistics. Over a few samples with gaps between them it moves far
    less from run to run than the sample quantile, which jumps between
    neighbours."""
    xs = sorted(xs)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def cdf(x, steps=2000):  # midpoint rule on the beta density
        if x <= 0:
            return 0.0
        if x >= 1:
            return 1.0
        h = x / steps
        return h * sum(math.exp(log_norm + (a - 1) * math.log((k + 0.5) * h)
                                + (b - 1) * math.log(1 - (k + 0.5) * h))
                       for k in range(steps))

    w = [cdf(i / n) - cdf((i - 1) / n) for i in range(1, n + 1)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def end_to_end(res, workload):
    ops = res["op_seconds"]
    wall = statistics.median(ops)
    if workload == "query_sweep":
        per_query = [statistics.median(v) for v in res["query_seconds"].values()]
    else:
        per_query = ops
    values = {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "docs_per_s": res["docs"] / wall,
        "spans_out_per_s": res["spans_out"] / wall,
        "query_p50_s": hd_quantile(per_query, 0.5),
        "query_p67_s": hd_quantile(per_query, 0.67),
        "out_bytes_per_in_byte": res["out_bytes"] / res["in_bytes"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="self-test: damage one output before the gate")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("engine sources not found next to perfbench/; nothing to benchmark")

    start = time.time()
    classpath = build()
    deadline = time.time() + RUN_BUDGET_S
    sizes = SIZES[a.scale]
    run_id = f"{a.workload}-{a.seed}-{os.getpid()}-{int(start)}"
    work = os.path.join(STATE, "work", run_id)
    os.makedirs(work)
    try:
        result_file = os.path.join(work, "result.json")
        trace_dir = os.path.join(STATE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{run_id}.json")
        args = ["--workload", a.workload, "--seed", a.seed,
                "--seconds", a.seconds, "--trace", a.trace, "--cores", cores(),
                "--work", os.path.join(work, "jvm"), "--data", SWEEP_DATA, "--run-id", run_id,
                "--out", result_file, "--trace-file", trace_file, "--corrupt", a.corrupt,
                "--families", ";".join(f"{f}={','.join(qs)}" for f, qs in FAMILIES.items())]
        for k, v in sizes.items():
            args += [f"--{k}", v]
        log(f"{time.time() - start:.1f}s built, starting JVM")
        run_jvm(classpath, work, args, deadline, "run.log")
        log(f"{time.time() - start:.1f}s JVM done")
        res = json.load(open(result_file))

        failures = list(res["failures"])
        failed = res["failed"]
        if a.workload == "query_sweep":
            import oracle
            verify_dir = res["verify_dir"]
            if res.get("corrupt_query"):
                oracle.drop_one_row(os.path.join(verify_dir, res["corrupt_query"]))
            bad, rows = oracle.check(SWEEP_DATA, verify_dir, os.path.join(STATE, "oracle-cache"),
                                     skip=set(res["verify_failed"]))
            log(f"{time.time() - start:.1f}s DuckDB gate done")
            failures += bad
            failed += len(bad)
            res["spans_out"] = rows

        if a.trace:
            metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u}
                       for k, u in PER_LAYER.items()}
        elif res["op_seconds"]:
            metrics = end_to_end(res, a.workload)
        else:  # no timed operation completed: nothing to measure
            failed = max(failed, 1)
            metrics = {k: {"value": 0.0, "unit": u} for k, u in END_TO_END.items()}
        detail = {
            "workload": a.workload, "trace": a.trace, "host": fingerprint(a.seed, res),
            "calibration_control_s": {"before": res["control_before_s"],
                                      "after": res["control_after_s"]},
            "fail_frac": failed / max(1, res["attempted"]),
            "operations": len(res["op_seconds"]),
            "failures": failures[:20],
            "trace_file": os.path.relpath(trace_file, ROOT) if a.trace else None,
            "run_s": time.time() - start,
        }
        print(json.dumps(detail))
        print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
