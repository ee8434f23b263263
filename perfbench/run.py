#!/usr/bin/env python3
"""Benchmark of the webtext dedup engine.

    python3 perfbench/run.py --workload snapshot_batch --seed 1 --seconds 5 --trace 0

Run from the repository root.  One invocation is one fresh process: it
creates the Spark session (timed as ``setup_s``), runs one workload from
``perfbench/workloads.py`` against the engine's public API, checks the
outputs against the planted truth, stops the JVM and every Python worker,
removes its work dir, and prints one JSON object as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on span
wrappers and the Spark event log and reports the per-layer metrics instead.
``--smoke`` shrinks the inputs for a quick functional check.  See
``perfbench/README.md`` for every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

T_PROCESS = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "duplicate_image_detector_spark"

#: end-to-end metrics, reported with --trace 0 (name -> unit)
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "pair_recall": "ratio",
    "pair_precision": "ratio",
    "state_mb": "MB",
}

#: (module, checkpoint stage) of every stage span with per-layer metrics:
#: the batch pipeline's, then the daily loop's
STAGES = [
    ("pipeline", "docs"),
    ("signatures", "signatures"),
    ("lsh", "candidates"),
    ("verify", "shingle_sets"),
    ("verify", "verified"),
    ("exact", "exact"),
    ("substring", "substring"),
    ("pipeline", "edges"),
    ("components", "components"),
    ("representative", "clusters"),
    ("daily", "signatures"),
    ("daily", "substr_fps"),
    ("incremental_pairs", "pairs"),
    ("incremental_pairs", "clusters"),
]
STAGE_MEASURES = {
    "wall_s": "s",
    "busy_s": "s",
    "shuffle_write_mb": "MB",
    "task_skew": "ratio",
    "rows_out": "count",
}
CHECKPOINT_STAGES = list(dict.fromkeys(stage for _, stage in STAGES))
STORE_OPS = ["apply_update", "read", "serve_group", "soft_delete", "active_groups"]


def per_layer_units() -> dict[str, str]:
    """Per-layer metrics, reported with --trace 1 (name -> unit)."""
    units = {"session.get_spark_s": "s", "session.peak_rss_mb": "MB"}
    for top in ("pipeline.run_pipeline", "daily.run_day"):
        for m in ("wall_s", "self_s", "busy_s"):
            units[f"{top}.{m}"] = "s"
    units["pipeline.tier_slack_s"] = "s"
    units["daily.compact_state.wall_s"] = "s"
    for module, stage in STAGES:
        for m, u in STAGE_MEASURES.items():
            units[f"{module}.{stage}.{m}"] = u
    units["lsh.candidate_yield"] = "ratio"
    for stage in CHECKPOINT_STAGES:
        units[f"checkpoints.{stage}.bytes_mb"] = "MB"
        units[f"checkpoints.{stage}.n_files"] = "count"
    for op in STORE_OPS:
        units[f"cluster_store.{op}.wall_s"] = "s"
        units[f"cluster_store.{op}.busy_s"] = "s"
    units["cluster_store.commit.buckets_rewritten"] = "count"
    units["cluster_store.commit.bytes_mb"] = "MB"
    units["trace.op_wall_s"] = "s"
    units["trace.op_cpu_s"] = "s"
    units["trace.unattributed_busy_s"] = "s"
    return units


# -- statistics ------------------------------------------------------------


def tail(values: list[float]) -> float:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it;
    the maximum when there are too few samples for any of them."""
    n = len(values)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return statistics.quantiles(values, n=100, method="inclusive")[p - 1]
    return max(values)


def _mean(xs) -> float:
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else 0.0


def prepare_env(work: str) -> None:
    """Everything the session and its workers inherit: core count from
    ``nproc``, scratch dirs inside ``work``, and the runtime warmup off (see
    README.md: the default warmup alone would exceed the run budget)."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    cpus = subprocess.run(
        ["nproc"], env=env, capture_output=True, text=True, check=True
    ).stdout.strip()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_WARMUP="0",
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    os.environ.pop("SPARK_MASTER", None)


# -- metrics ---------------------------------------------------------------


def end_to_end(workload: str, res, setup_s: float, peak_rss: float) -> tuple[dict, dict]:
    """(bounded metrics, detail metrics) of a run.  Wall-clock latency and
    throughput go to the detail line and the traced run's per-layer
    metrics, not the bounded set: see README.md, "Why CPU seconds"."""
    v = res.values
    detail = {}
    if workload == "snapshot_batch":
        op = res.walls.get("op", [0.0])[0]
        detail["op_wall_s"] = (op, "s")
        detail["docs_per_s"] = (v["n_docs"] / op if op else 0.0, "1/s")
    else:
        op = res.walls.get("day", [0.0])[0]
        detail["day_wall_s"] = (op, "s")
        detail["docs_per_s"] = (v.get("n_delta", 0) / op if op else 0.0, "1/s")
        thr = v["n_requests"] / v["window_s"] if v.get("window_s") else 0.0
        detail["review_ops_per_s"] = (thr, "1/s")
        for kind, name in (("serve_group", "read"), ("soft_delete", "delete")):
            w = res.walls.get(kind, [])
            if w:
                detail[f"{name}_p50_ms"] = (statistics.median(w) * 1000, "ms")
                detail[f"{name}_tail_ms"] = (tail(w) * 1000, "ms")
            detail[f"{name}_samples"] = (len(w), "count")
        detail["cross_day_dups"] = (v["cross_day_dups"], "count")
    metrics = {
        "setup_s": setup_s,
        "cpu_s": v.get("cpu_s", 0.0),
        "pair_recall": v.get("recall", 0.0),
        "pair_precision": v.get("precision", 0.0),
        "state_mb": v.get("state_mb", 0.0),
        "op_wall_s": op,
        "peak_rss_mb": peak_rss,
    }
    detail.update(
        peak_rss_mb=(peak_rss, "MB"),
        dup_pair_recall=(v.get("recall", 0.0), "ratio"),
        false_merge_pairs=(v.get("false_merges", 0), "count"),
        ops_attempted=(res.attempted, "count"),
        ops_failed=(res.failed, "count"),
    )
    return metrics, detail


def per_layer(tracer, events: dict, res, get_spark_s: float, e2e: dict) -> dict:
    """Per-layer metrics of a traced run, per call where a layer is called
    more than once; layers the workload does not call report 0."""
    from perfbench.trace import dir_stats, self_times, task_skew

    spans = tracer.spans
    selfs = self_times(spans)
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def ev(s, key):
        e = events.get(str(s["id"]))
        return e[key] if e else 0.0

    m = {"session.get_spark_s": get_spark_s, "session.peak_rss_mb": e2e["peak_rss_mb"]}
    for top in ("pipeline.run_pipeline", "daily.run_day"):
        calls = by_name.get(top, [])
        m[f"{top}.wall_s"] = _mean(s["end"] - s["start"] for s in calls)
        m[f"{top}.self_s"] = _mean(selfs[s["id"]] for s in calls)
        m[f"{top}.busy_s"] = _mean(ev(s, "busy_s") for s in calls)
    slack = []
    for call in by_name.get("pipeline.run_pipeline", []):
        kids = {s["name"]: s for s in spans if s["parent"] == call["id"]}
        branches = []
        if "exact.exact" in kids:
            branches.append(kids["exact.exact"]["end"] - kids["exact.exact"]["start"])
        if "signatures.signatures" in kids and "verify.verified" in kids:
            branches.append(kids["verify.verified"]["end"] - kids["signatures.signatures"]["start"])
        if "substring.substring" in kids:
            s = kids["substring.substring"]
            branches.append(s["end"] - s["start"])
        branches.sort(reverse=True)
        if len(branches) >= 2:
            slack.append(branches[0] - branches[1])
    m["pipeline.tier_slack_s"] = _mean(slack)
    m["daily.compact_state.wall_s"] = _mean(
        s["end"] - s["start"] for s in by_name.get("daily.compact_state", [])
    )

    for module, stage in STAGES:
        name = f"{module}.{stage}"
        inst = by_name.get(name, [])
        m[f"{name}.wall_s"] = _mean(s["end"] - s["start"] for s in inst)
        for key in ("busy_s", "shuffle_write_mb"):
            m[f"{name}.{key}"] = _mean(ev(s, key) for s in inst)
        tasks: dict = {}
        for s in inst:
            e = events.get(str(s["id"]))
            if e:
                tasks.update(e["stage_tasks"])
        m[f"{name}.task_skew"] = task_skew(tasks)
        m[f"{name}.rows_out"] = _mean(s.get("rows_out") for s in inst)
    cand = m["lsh.candidates.rows_out"]
    m["lsh.candidate_yield"] = m["verify.verified.rows_out"] / cand if cand else 0.0
    # the last traced write of each stage (the workload's op)
    stage_dir = {s["stage"]: s.get("path") for s in spans if "stage" in s}
    for stage in CHECKPOINT_STAGES:
        mb, files = dir_stats(stage_dir.get(stage))
        m[f"checkpoints.{stage}.bytes_mb"] = mb
        m[f"checkpoints.{stage}.n_files"] = files
    for op in STORE_OPS:
        inst = by_name.get(f"cluster_store.{op}", [])
        m[f"cluster_store.{op}.wall_s"] = _mean(s["end"] - s["start"] for s in inst)
        m[f"cluster_store.{op}.busy_s"] = _mean(ev(s, "busy_s") for s in inst)
    m["cluster_store.commit.buckets_rewritten"] = _mean(
        c["buckets_rewritten"] for c in res.commits
    )
    m["cluster_store.commit.bytes_mb"] = _mean(c["bytes_mb"] for c in res.commits)
    m["trace.op_wall_s"] = e2e["op_wall_s"]
    m["trace.op_cpu_s"] = e2e["cpu_s"]
    none = events.get(None)
    m["trace.unattributed_busy_s"] = none["busy_s"] if none else 0.0
    return m


# -- main ------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.procs import RssSampler, stop_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    sampler = RssSampler()
    spark = None
    try:
        prepare_env(work)
        sampler.start()
        from duplicate_image_detector_spark.session import get_spark

        extra = None
        if args.trace:
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=extra)
        get_spark_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_PROCESS
        spark.sparkContext.setLogLevel("ERROR")

        from perfbench.trace import NullTracer, Tracer, read_event_log, top_level_coverage

        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        if args.trace:
            tracer.install()
        run = workloads.Run(
            spark, tracer, work, args.seed, args.seconds,
            size="smoke" if args.smoke else "full",
        )
        res = workloads.WORKLOADS[args.workload](run)
        t_workload = time.perf_counter()
        if args.trace:
            tracer.uninstall()
        stop_spark(spark)
        spark = None
        peak_rss = sampler.stop()
        print(
            f"phases: setup {setup_s:.1f} s, workload {t_workload - T_PROCESS - setup_s:.1f} s, "
            f"stop {time.perf_counter() - t_workload:.1f} s",
            file=sys.stderr,
        )

        metrics, detail = end_to_end(args.workload, res, setup_s, peak_rss)
        if args.trace:
            events = read_event_log(log_dir)
            values = per_layer(tracer, events, res, get_spark_s, metrics)
            units = per_layer_units()
            coverage = top_level_coverage(tracer.spans)
            print("coverage " + json.dumps(coverage))
        else:
            values, units = metrics, END_TO_END
        print("detail " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in detail.items()}))
        for e in res.errors:
            print(f"check failed: {e}", file=sys.stderr)
        print(json.dumps({
            "correct": not res.errors,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            if sampler.is_alive():
                sampler.stop()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only if no other run uses it
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
