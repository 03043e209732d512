#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_serve --seed 1 --seconds 20 --trace 0

Run from the repository root.  Prints a report (environment, failures by
cause, per-layer table when tracing) and, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.harness import percentile  # noqa: E402

WORKLOADS = ("sql_serve", "pandas_oneshot", "corpus_curation")
MB = 1024.0 * 1024.0

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "qps": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "docs_per_s": "1/s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "tables.read_file_ms": "ms",
    "commands.parse_us": "us",
    "dialect.rewrite_us": "us",
    "datasource.analyze_ms": "ms",
    "datasource.collect_ms": "ms",
    "datasource.jvm_calls_per_op": "count",
    "datasource.lock_wait_ms": "ms",
    "datasource.add_table_ms": "ms",
    "datasource.drop_ms": "ms",
    "extensions.lock_wait_ms": "ms",
    "extensions.inject_from_us": "us",
    "registry.register_ms": "ms",
    "driver.py_cpu_s": "s",
    "cache.hits": "count",
    "cache.misses": "count",
    "cache.hit_ratio": "ratio",
    "cache.storage_mb": "MB",
    "cache.pins_never_hit": "count",
    "cache.touch_ms": "ms",
    "text.filter_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.components_s": "s",
    "dedup.pairs": "count",
    "text.pack_s": "s",
    "similarity.semdedup_s": "s",
    "writers.write_s": "s",
    "writers.bytes_written_mb": "MB",
    "writers.files_written": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_s": "s",
    "spark.task_cpu_frac": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.input_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.core_busy_frac": "ratio",
    "trace.overhead_pct": "%",
    "trace.qps": "1/s",
    "trace.latency_p50_ms": "ms",
    "trace.docs_per_s": "1/s",
}
# span name -> (per-layer metric, scale from seconds) for per-op means
OP_SPANS = {
    "commands.parse": ("commands.parse_us", 1e6),
    "dialect.rewrite": ("dialect.rewrite_us", 1e6),
    "datasource.analyze": ("datasource.analyze_ms", 1e3),
    "datasource.collect": ("datasource.collect_ms", 1e3),
    "datasource.lock_wait": ("datasource.lock_wait_ms", 1e3),
    "datasource.add_table": ("datasource.add_table_ms", 1e3),
    "datasource.drop": ("datasource.drop_ms", 1e3),
    "extensions.lock_wait": ("extensions.lock_wait_ms", 1e3),
    "extensions.inject_from": ("extensions.inject_from_us", 1e6),
    "registry.register": ("registry.register_ms", 1e3),
    "cache.touch": ("cache.touch_ms", 1e3),
}
STAGE_METRICS = {
    "text.filter": "text.filter_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.components": "dedup.components_s",
    "text.pack": "text.pack_s",
    "similarity.semdedup": "similarity.semdedup_s",
}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def make_workload(name: str, seed: int):
    if name == "sql_serve":
        from perfbench.sql_serve import Workload
    elif name == "pandas_oneshot":
        from perfbench.pandas_oneshot import Workload
    else:
        from perfbench.corpus_curation import Workload
    return Workload(seed)


def report(label: str, value) -> None:
    print(f"{label}: {json.dumps(value) if isinstance(value, (dict, list)) else value}", flush=True)


def n_clients() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# the timed work
# ---------------------------------------------------------------------------

def serve(wl, seconds: float, tracer) -> tuple[list, float]:
    """Closed loop with one client per core.  Returns the op records and
    the wall time."""

    def op(i):
        if tracer is None:
            return wl.op(i)
        with tracer.op(i):
            return wl.op(i)

    records, wall = harness.closed_loop(n_clients(), op, seconds=seconds)
    for r in records:
        r.key = wl.key(r.index)
    return records, wall


def curate(wl, tracer) -> tuple[str | None, str | None, float]:
    """The one pipeline pass.  Returns its output directory, the error
    class when it raised, and its wall time."""
    out, err = os.path.join(harness.WORK_DIR, "curation"), None
    t0 = time.perf_counter()
    try:
        with tracer.op(0) if tracer else nullcontext():
            wl.op(out, tracer)
    except Exception as e:  # a failed pass is a result, reported below
        out, err = None, harness.error_class(e)
    return out, err, time.perf_counter() - t0


def serve_metrics(wl, records, wall: float) -> dict:
    ok = [r for r in records if r.verdict == "ok"]
    return {
        "qps": len(ok) / wall,
        "latency_p50_ms": 1e3 * percentile([r.latency for r in ok], 50),
        "latency_p90_ms": 1e3 * percentile([r.latency for r in ok], 90),
        "docs_per_s": sum(wl.records_out(r) for r in ok) / wall,
    }


def curate_metrics(wl, ok: bool, wall: float) -> dict:
    """A run is one pass, so qps is 1 / pass time and both percentiles
    are the pass time."""
    return {
        "qps": ok / wall,
        "latency_p50_ms": 1e3 * wall,
        "latency_p90_ms": 1e3 * wall,
        "docs_per_s": ok * wl.n_docs / wall,
    }


def failure_causes(records) -> dict:
    causes: dict[str, int] = {}
    for r in records:
        if r.verdict == "wrong":
            causes["wrong_result"] = causes.get("wrong_result", 0) + 1
        elif r.verdict == "raised":
            causes[r.error] = causes.get(r.error, 0) + 1
    return causes


def template_report(wl, records) -> dict:
    by_template: dict[str, dict] = {}
    for r in records:
        d = by_template.setdefault(wl.template(r.key), {"n": 0, "failed": 0, "lat_ms": []})
        d["n"] += 1
        if r.verdict == "ok":
            d["lat_ms"].append(1e3 * r.latency)
        else:
            d["failed"] += 1
    return {t: {"n": d["n"], "failed": d["failed"], "p50_ms": round(percentile(d["lat_ms"], 50), 1)}
            for t, d in sorted(by_template.items())}


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

def engine_metrics(spark, snap0, stage0: int, n_ops: int, wall: float) -> dict:
    snap1 = harness.engine_snapshot(spark)
    stages = harness.stage_totals(spark, stage0)
    # summed over stages: the executor summary's totalDuration is not a
    # sum of task times (it reads about one wall second per second)
    task_s = stages["run_ms"] / 1e3
    n = max(1, n_ops)
    return {
        "spark.jobs_per_op": (snap1.max_job_id - snap0.max_job_id) / n,
        "spark.stages_per_op": (stages["max_stage_id"] - stage0) / n,
        "spark.tasks_per_op": (snap1.tasks - snap0.tasks) / n,
        "spark.task_s": task_s,
        "spark.task_cpu_frac": stages["cpu_ns"] / 1e6 / stages["run_ms"] if stages["run_ms"] else 0.0,
        "spark.gc_s": (snap1.gc_ms - snap0.gc_ms) / 1e3,
        "spark.shuffle_write_mb": (snap1.shuffle_write - snap0.shuffle_write) / MB,
        "spark.shuffle_read_mb": (snap1.shuffle_read - snap0.shuffle_read) / MB,
        "spark.input_mb": (snap1.input_bytes - snap0.input_bytes) / MB,
        "spark.spill_mb": stages["spill_disk"] / MB,
        "spark.core_busy_frac": task_s / (wall * n_clients()),
        "cache.storage_mb": snap1.memory_used / MB,
    }


def layer_metrics(tracer, traced_ops: list) -> tuple[dict, dict]:
    totals = tracer.layer_totals(traced_ops)
    counts = tracer.count_totals(traced_ops)
    n = max(1, len(traced_ops))
    out = {metric: totals.get(span, {}).get("total_s", 0.0) * scale / n
           for span, (metric, scale) in OP_SPANS.items()}
    hits, misses = counts.get("cache.hits", 0), counts.get("cache.misses", 0)
    out.update({
        "datasource.jvm_calls_per_op": counts.get("py4j.calls", 0) / n,
        "cache.hits": hits,
        "cache.misses": misses,
        "cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "cache.pins_never_hit": tracer.pins_never_hit(traced_ops),
        "writers.write_s": totals.get("writers.write", {}).get("total_s", 0.0),
    })
    return out, totals


def run_untraced(args) -> dict:
    """The untraced run of the same workload and seed, in a child process
    that ends before this one starts its JVM.  Returns its metrics, which
    the tracing overhead is measured against."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    child = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, check=True)
    return json.loads(child.stdout.strip().splitlines()[-1])["metrics"]


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def main() -> int:
    args = parse_args()
    untraced_run = run_untraced(args) if args.trace else None
    harness.prepare_environment()
    i0 = time.perf_counter()
    wl = make_workload(args.workload, args.seed)
    input_build_s = time.perf_counter() - i0
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
    from dfsql_spark import get_spark

    g0 = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - g0
    try:
        return measure(args, wl, tracer, spark, input_build_s, get_spark_s, untraced_run)
    finally:
        harness.shutdown(spark)
        harness.cleanup()


def measure(args, wl, tracer, spark, input_build_s: float, get_spark_s: float,
            untraced_run: dict | None) -> int:
    corpus = args.workload == "corpus_curation"
    if tracer is not None:
        tracer.install(spark)
    with tracer.op("setup") if tracer else nullcontext():
        wl.setup(spark)
    if not corpus:
        # untimed ops bring the JIT to a steady state before the window
        harness.closed_loop(n_clients(), wl.op, ops=wl.warmup_ops)
    # the first timed op starts now; building the inputs is not set-up
    setup_s = time.perf_counter() - PROCESS_START - input_build_s
    report("input_build_s", round(input_build_s, 3))
    report("get_spark_s", round(get_spark_s, 3))

    env = harness.EnvProbe()
    if tracer is not None:
        snap0 = harness.engine_snapshot(spark)
        stage0 = harness.stage_totals(spark, 1 << 62)["max_stage_id"]
        cpu0 = time.process_time()
    if corpus:
        out, pass_error, wall = curate(wl, tracer)
        attempted = 1
    else:
        records, wall = serve(wl, args.seconds, tracer)
        attempted = len(records)
    if tracer is not None:
        py_cpu_s = time.process_time() - cpu0
        layers = engine_metrics(spark, snap0, stage0, attempted, wall)
        tracer.uninstall()
    # printed, not gated: its run-to-run spread is too wide (README.md)
    report("peak_rss_mb", round(harness.peak_rss_mb(spark), 1))

    c0 = time.perf_counter()
    tmp = os.path.join(harness.WORK_DIR, "tmp")
    if corpus:
        problems = [f"pass raised {pass_error}"] if pass_error else wl.check(out, tmp)
        failed = 1 if problems else 0
        causes = {"check": problems} if problems else {}
        e2e = curate_metrics(wl, not failed, wall)
        report("stage_s", {k: round(v, 3) for k, v in wl.stage_s.items()})
    else:
        wl.check(records, tmp)
        failed = sum(1 for r in records if r.verdict != "ok")
        causes = failure_causes(records)
        e2e = serve_metrics(wl, records, wall)
        report("clients", n_clients())
        report("templates", template_report(wl, records))
    report("check_s", round(time.perf_counter() - c0, 3))
    report("env", env.record(spark))
    report("failed_frac", failed / attempted)
    report("failures_by_cause", causes)
    report("attempted", attempted)
    report("wall_s", round(wall, 3))

    if tracer is None:
        e2e["setup_s"] = setup_s
        metrics = {k: {"value": e2e[k], "unit": unit} for k, unit in END_TO_END.items()}
    else:
        op_layers, totals = layer_metrics(tracer, [0] if corpus else [r.index for r in records])
        layers.update(op_layers)
        layers["driver.py_cpu_s"] = py_cpu_s
        layers["session.get_spark_s"] = get_spark_s
        layers["tables.read_file_ms"] = 1e3 * tracer.layer_totals(["setup"]).get(
            "tables.read_file", {}).get("total_s", 0.0)
        if corpus:
            for stage, metric in STAGE_METRICS.items():
                layers[metric] = wl.stage_s.get(stage, 0.0)
            out_stats = wl.stats(out) if out else {"pairs": 0, "bytes": 0, "files": 0}
            layers["dedup.pairs"] = out_stats["pairs"]
            layers["writers.bytes_written_mb"] = out_stats["bytes"] / MB
            layers["writers.files_written"] = out_stats["files"]
        # qps of the untraced run over the traced one; on corpus_curation
        # that is the ratio of documents per second as well
        traced_qps = e2e["qps"]
        untraced_qps = untraced_run["qps"]["value"]
        layers["trace.overhead_pct"] = 100.0 * (untraced_qps / traced_qps - 1.0) if traced_qps else 0.0
        for k in ("qps", "latency_p50_ms", "docs_per_s"):
            layers[f"trace.{k}"] = e2e[k]
        report("untraced_run", {k: round(v["value"], 3) for k, v in untraced_run.items()})
        report("layers", {name: {"calls": d["calls"], "total_s": round(d["total_s"], 4),
                                 "self_s": round(d["self_s"], 4)}
                          for name, d in sorted(totals.items())})
        tracer.dump(os.path.join(harness.HERE, ".traces", f"{args.workload}-seed{args.seed}.jsonl"))
        metrics = {k: {"value": layers.get(k, 0.0), "unit": unit} for k, unit in PER_LAYER.items()}

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
