#!/usr/bin/env python3
"""Benchmark entry point: one workload run, one JSON result line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the harness together with the
program's sources (perfbench/build.sbt; skipped when no source changed),
generates the workload's inputs from the seed (gen.py), runs one harness
JVM (a closed loop with one client, see Harness.scala), checks every
query's output against the DuckDB oracle (oracle.py) and prints the
metrics: human-readable lines, then one JSON object as the last line.

With `--trace 0` the JSON carries the end-to-end metrics, with `--trace 1`
the per-layer metrics (and the traced run's spans go to
.bench_build/perfbench-run/<workload>/out/spans.jsonl).
"""
import argparse
import hashlib
import json
import os
import re
import signal
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# Query mix of each workload, with the tables each query reads per pass.
WORKLOADS = {
    "relational": {
        "q01_pricing_summary": ["lineitem"],
        "q02_filter_pushdown": ["lineitem"],
        "q03_star_join_revenue": ["lineitem", "orders", "customer", "nation", "region"],
        "q04_brand_volume_topk": ["lineitem", "part"],
        "q05_order_rank_window": ["orders"],
        "q06_events_hourly": ["events"],
        "q07_events_json": ["events"],
        "q08_semi_anti": ["customer", "orders"],
        "q09_rollup": ["orders"],
    },
    "labelprop": {
        "q12_label_propagation": ["embeddings"],
        "q11_cosine_topk": ["embeddings"],
    },
    "text": {
        "q10_seed_label_fuzzy": ["documents"],
        "q16_exact_dedup": ["documents"],
        "q17_minhash_neardup": ["documents"],
    },
}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
    "heap_live_peak_mb": "MB",
}

PER_LAYER = {
    "setup.jvm_s": "s", "setup.session_s": "s", "setup.warmup_s": "s",
    "table.calls": "count", "table.build_s": "s", "table.jobs": "count",
    **{f"q.{q}.{m}": u for w in WORKLOADS.values() for q in w
       for m, u in (("wall_s", "s"), ("build_s", "s"), ("jobs", "count"))},
    "q.samples": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_s": "s", "sched.driver_idle_s": "s", "sched.core_busy_ratio": "ratio",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "scan.bytes": "bytes", "scan.records": "count", "scan.time_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.records": "count", "shuffle.fetch_wait_s": "s",
    "mem.storage_peak_mb": "MB",
    "kernel.dot_ns": "ns", "kernel.cosine_ns": "ns", "kernel.jaccard_ns": "ns",
    "kernel.levenshtein_ns": "ns", "kernel.minhash_text_ns": "ns",
    "knn.s": "s", "knn.pairs_scored": "count", "knn.edges": "count", "knn.yield": "ratio",
    "normalize.s": "s", "spread.s": "s", "spread.jobs": "count", "threshold.s": "s",
    "labelprop.labelled_frac": "ratio",
    "dedup.exact_groups": "count", "dedup.candidates": "count", "dedup.near_dup": "count",
    "dedup.verify_yield": "ratio", "lsh.max_bucket": "count",
    "fuzzy.pairs_scored": "count", "topk.pairs_scored": "count",
    "trace.overhead_s": "s",
}

HEAP = "4g"
RUN_LIMIT_S = 175           # a run must end within 180 s
BUILD_LIMIT_S = 880         # the first run in a checkout builds
ORACLE_RESERVE_S = 25       # kept back from the JVM for the oracle check

SPARK_JARS_RE = re.compile(r'unmanagedBase := file\("([^"]+)"\)')
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "scala-2.13", "classes")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_process(cmd, cwd, timeout, log_path, env=None):
    """Run `cmd` in its own process group; kill the group on timeout, or
    when this process is told to stop. Returns the exit code, or None on
    timeout."""
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for s, h in handlers.items():
                signal.signal(s, h)


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile harness + program unless the sources are unchanged since the
    last build in this checkout. Returns True if it compiled."""
    stamp_path = os.path.join(BUILD_DIR, "source.sha256")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                return False
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD_DIR, "build.log")
    rc = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HERE,
                     deadline - time.time(), log_path, env)
    if rc != 0:
        raise RuntimeError(f"build failed (exit {rc}):\n{tail(log_path)}")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return True


def inputs(workload, seed, work):
    """Generate the workload's tables; returns (directory, {table: rows}).
    Seed-independent inputs are generated once per checkout and reused
    while gen.py is unchanged."""
    if workload not in gen.FIXED_WORKLOADS:
        data = os.path.join(work, "data")
        return data, gen.generate(workload, seed, data)
    data = os.path.join(ROOT, ".bench_build", "perfbench-data", workload)
    stamp_path = os.path.join(data, "stamp.json")
    with open(gen.__file__, "rb") as f:
        gen_sha = hashlib.sha256(f.read()).hexdigest()
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            stamp = json.load(f)
        if stamp["gen"] == gen_sha:
            return data, stamp["rows"]
    shutil.rmtree(data, ignore_errors=True)
    rows = gen.generate(workload, seed, data)
    with open(stamp_path, "w") as f:
        json.dump({"gen": gen_sha, "rows": rows}, f)
    return data, rows


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program source (build.sbt, src/main/scala) under {ROOT}")
        return 2
    built = build(start + BUILD_LIMIT_S)
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S) - ORACLE_RESERVE_S

    mix = WORKLOADS[a.workload]
    work = os.path.join(ROOT, ".bench_build", "perfbench-run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    for d in (out, os.path.join(work, "tmp"), os.path.join(work, "spark-local")):
        os.makedirs(d)
    data, rows = inputs(a.workload, a.seed, work)
    rows_per_pass = sum(rows[t] for reads in mix.values() for t in reads)

    # The Spark jars are the ones the program's own build compiles against.
    with open(os.path.join(ROOT, "build.sbt")) as f:
        spark_jars = SPARK_JARS_RE.search(f.read()).group(1)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{CLASSES}:{spark_jars}/*", "perfbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--out", out, "--cores", str(cores),
            "--queries", ",".join(mix),
            "--tables", ",".join(t for reads in mix.values() for t in reads)])
    jvm_log = os.path.join(work, "harness.log")
    rc = run_process(cmd, ROOT, deadline - time.time(), jvm_log)
    if rc != 0:
        log(f"harness {'timed out' if rc is None else f'exited {rc}'}:\n{tail(jvm_log)}")
        return 1
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    verdict = oracle.compare(data, out, list(mix))
    attempted = sum(res["attempted"].values())
    failed = 0
    for q in mix:
        # A query whose output misses the oracle fails every job it ran.
        bad = verdict[q] is not None or q in res["dump_failed"]
        failed += res["attempted"][q] if bad else res["failed"][q]
        print(f"oracle {q}: {'OK' if verdict[q] is None else 'MISMATCH ' + verdict[q]}"
              f"; {res['failed'][q]} of {res['attempted'][q]} timed jobs threw")

    plain = [p for p in res["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in plain]
    q1, q3 = quartiles(walls)
    summary = {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(walls),
        "rows_per_s": rows_per_pass / statistics.mean(walls),
        "cpu_s": statistics.median(p["cpu_s"] for p in plain),
        "heap_live_peak_mb": max(p["heap_live_mb"] for p in plain),
    }
    print(f"workload {a.workload} seed {a.seed} cores {cores} input rows {rows} "
          f"rows/pass {rows_per_pass}")
    for k, v in summary.items():
        print(f"{k} {v:.6g} {END_TO_END[k]}")
    print(f"pass_s quartiles {q1:.6g} {q3:.6g} over {len(walls)} passes")
    print(f"fail_ratio {failed / attempted:.6g} fraction ({failed} of {attempted} jobs failed)")

    if a.trace:
        layer = {k: v["value"] for k, v in res["per_layer"].items()}
        for q in (q for w, m in WORKLOADS.items() if w != a.workload for q in m):
            for m in ("wall_s", "build_s", "jobs"):
                layer[f"q.{q}.{m}"] = 0.0
        missing = sorted(set(PER_LAYER) - set(layer))
        if missing:
            log(f"per-layer metrics missing: {missing}")
            return 1
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in summary.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
