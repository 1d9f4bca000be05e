"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and the benchmark (perfbench/build.py). Each run works in a
private directory under .bench_build/ that is deleted afterwards; a
traced run keeps its span file under .bench_build/traces/.

The last line of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The line before it records the run's
provenance. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 165

# Per-layer metrics each workload must report; a declared metric that no
# workload below owns is an error, one another workload owns reads 0.
SHARED_LAYERS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.task_skew",
    "operators.shuffle_write_mb", "operators.spill_mb", "trace.overhead_share",
]
OWN_LAYERS = {
    "sync_ticks": [
        "core.window_rows", "sources.input_rows_per_window_row",
        "sources.output_rows_per_window_row", "sources.output_mb",
        "sources.store_files", "sync.tick_tail_s", "sync.spec_main_s",
        "sync.spec_daily_s",
    ],
    "corpus_batch": [f"query.{q}.{m}" for q in (
        "v22_tfidf_knn", "q43_pagerank", "m8_media_ingest_screen")
        for m in ("cold_s", "warm_s", "jobs", "driver_gap_s")] + [
        "sources.artifact_mb"],
    "accept_stream": [
        "streaming.accepted_share", "streaming.late_over_early",
        "streaming.batch_tail_s", "sources.maint_folds", "sources.maint_failed",
        "sources.maint_fold_max_s", "sources.maint_queue_peak",
        "sources.corpus_files", "dedup.residue_fallbacks",
    ],
}


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def layer_values(spec, workload, values):
    """The declared per-layer metrics: the workload's own must all be
    reported; those of the other workloads read 0 (no work there)."""
    own = SHARED_LAYERS + OWN_LAYERS[workload]
    others = {n for ns in OWN_LAYERS.values() for n in ns}
    declared = [m["name"] for m in spec["per_layer"]]
    unowned = [n for n in declared if n not in own and n not in others]
    missing = [n for n in own if n in declared and n not in values]
    if unowned or missing:
        fail(f"per-layer metrics owned by no workload {unowned}, "
             f"not reported {missing}")
    return {n: values[n] if n in own else 0.0 for n in declared}


def main():
    # a SIGTERM unwinds through build.run_main's cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    nproc = len(os.sched_getaffinity(0))
    if build.CORES > nproc:
        fail(f"local[{build.CORES}] needs {build.CORES} processors, "
             f"this host has {nproc}")

    jar, digest = build.build()
    runs = os.path.join(build.BUILD, "runs")
    root = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    trace_file = os.path.join(
        traces, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        out = os.path.join(root, "result.json")
        code, log = build.run_main(jar, args.workload, args.seed, args.seconds,
                                   args.trace, root, out, trace_file,
                                   timeout=JVM_TIMEOUT_S)
        if code != 0:
            sys.stderr.write(log[-6000:])
            fail("benchmark JVM timed out" if code is None
                 else f"benchmark JVM exited {code}")
        with open(out) as fh:
            res = json.load(fh)
        failed = res["failed"]
        gate = {}
        if "oracle_runs" in res:
            import oracle  # DuckDB and pandas take a second to import
            gate = oracle.check(res["data_dir"], res["oracle_runs"])
            failed += sum(gate.values())
    finally:
        shutil.rmtree(root, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    values = res[kind]
    if args.trace:
        values = layer_values(spec, args.workload, values)
    missing = [m["name"] for m in spec[kind] if m["name"] not in values]
    if missing:
        fail(f"workload reported no value for {missing}")
    attempted = res["attempted"]
    prov = dict(res["provenance"], commit=git_commit(), source_digest=digest,
                cores=build.CORES, heap=build.HEAP, failed_share=failed / max(1, attempted),
                op_walls_s=res["op_walls_s"])
    if gate:
        prov["oracle_mismatches"] = gate
    if args.trace:
        prov["trace_file"] = os.path.relpath(trace_file, build.ROOT)
    print(json.dumps({"provenance": prov}))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in spec[kind]},
    }))


if __name__ == "__main__":
    main()
