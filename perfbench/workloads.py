"""The benchmark workloads, driven through the engine's public API.

Each workload takes a ``Run`` (session, tracer, work dir, seed, seconds),
prepares its inputs untimed, runs a fixed amount of timed work from a fresh
session, checks the outputs against the planted truth and returns a
``Result``.  The amount of timed work never depends on how fast the code
under test is, so every run times the same mix of first-use and warm work.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from itertools import combinations

from perfbench import gen
from perfbench.procs import tree_cpu_s
from perfbench.trace import dir_stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "duplicate_image_detector_spark"

#: corpus sizes (docs); ``--smoke`` uses the small ones.  daily_delta:
#: (pool, delta day); the base day is three quarters of the pool
SIZES = {
    "snapshot_batch": {"full": 1000, "smoke": 300},
    "daily_delta": {"full": (400, 40), "smoke": (120, 15)},
}
#: review rounds after the delta day whose CPU the run counts; each round
#: is one reviewer step beside ``BROWSE_PER_ROUND`` browser requests
REVIEW_ROUNDS = 2
BROWSE_PER_ROUND = 5


@dataclass
class Run:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    size: str = "full"


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    #: failed correctness checks, one line each
    errors: list[str] = field(default_factory=list)
    #: workload-level numbers (see run.py for how they become metrics)
    values: dict = field(default_factory=dict)
    #: per-op walls in seconds, by op kind
    walls: dict[str, list[float]] = field(default_factory=dict)
    #: traced runs only: bucket/byte counts of each store commit
    commits: list[dict] = field(default_factory=list)


def _mb(path: str) -> float:
    return dir_stats(path)[0]


def _pairs(groups) -> set[tuple[str, str]]:
    return {p for g in groups for p in combinations(sorted(g), 2)}


def pair_scores(
    predicted: dict[str, object], truth_groups: list[list[str]]
) -> tuple[float, float, int]:
    """(recall, precision, false-merge pairs) of a url -> cluster label
    assignment against planted groups.  Urls absent from ``predicted`` are
    unclustered."""
    by_label: dict = {}
    for url, label in predicted.items():
        by_label.setdefault(label, []).append(url)
    want = _pairs(truth_groups)
    got = _pairs(by_label.values())
    hit = len(want & got)
    recall = hit / len(want) if want else 1.0
    precision = hit / len(got) if got else 1.0
    return recall, precision, len(got - want)


def _check_quality(res: Result, predicted: dict, groups: list) -> None:
    recall, precision, false_merges = pair_scores(predicted, groups)
    res.values.update(recall=recall, precision=precision, false_merges=false_merges)
    if recall < 0.99:
        res.errors.append(f"dup-pair recall {recall:.4f} < 0.99")
    if false_merges:
        res.errors.append(f"{false_merges} falsely merged pairs")


# -- snapshot_batch ----------------------------------------------------------


def snapshot_batch(run: Run) -> Result:
    """Exactly one ``run_pipeline`` call with durable checkpoints over one
    generated snapshot, timed until its clusters are collected: the cold
    batch job a fresh ``spark-submit`` runs."""
    from duplicate_image_detector_spark.config import PipelineConfig
    from duplicate_image_detector_spark.plans.pipeline import run_pipeline

    spark, tracer = run.spark, run.tracer
    n_docs = SIZES["snapshot_batch"][run.size]
    pages, truth = gen.snapshot(n_docs, run.seed)
    path = gen.write_pages(pages, os.path.join(run.work, "data", "pages.parquet"))
    ckpt_dir = os.path.join(run.work, "ckpt")

    res = Result(attempted=1)
    res.values["n_docs"] = n_docs
    t0, c0 = time.perf_counter(), tree_cpu_s()
    try:
        with tracer.span("pipeline.run_pipeline"):
            out = run_pipeline(
                spark, spark.read.parquet(path), PipelineConfig(),
                checkpoint_dir=ckpt_dir,
            )
            with tracer.span("pipeline.materialize"):
                rows = out.clusters.select("url", "cluster_id").collect()
    except Exception:
        traceback.print_exc()
        res.failed = 1
        res.errors.append("run_pipeline failed")
        return res
    res.walls["op"] = [time.perf_counter() - t0]
    res.values.update(cpu_s=tree_cpu_s() - c0, state_mb=_mb(ckpt_dir))
    _check_quality(
        res, {r["url"]: r["cluster_id"] for r in rows}, gen.positive_groups(truth)
    )
    return res


# -- daily_delta -------------------------------------------------------------


def _source_key(size: str) -> str:
    """Hash of the engine's source and the base-day inputs: a base state
    is only reused by runs of the same code."""
    h = hashlib.sha256(repr(SIZES["daily_delta"][size]).encode())
    files = [os.path.join(HERE, "gen.py"), os.path.join(HERE, "base_day.py")]
    for root, dirs, names in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs.sort()
        files += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _base_state(run: Run) -> tuple[str, float | None]:
    """(dir, seconds it took to build or None if cached) of the committed
    base day.  It is built by the code under test, in a process of its own
    (so the timed day never runs in a JVM the base day warmed), once per
    source tree, under ``.bench_cache/``."""
    final = os.path.join(ROOT, ".bench_cache", f"daily-base-{_source_key(run.size)}")
    if os.path.isdir(final):
        return final, None
    tmp = os.path.join(run.work, "base-build", "state")
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "base_day.py"), tmp, run.size],
        check=True, timeout=600,
    )
    built = time.perf_counter() - t0
    os.makedirs(os.path.dirname(final), exist_ok=True)
    try:
        os.rename(tmp, final)
    except OSError:  # another run built it first
        pass
    return final, built


def _commit_stats(store_path: str) -> dict:
    """Buckets the latest commit rewrote and the bytes it wrote."""
    with open(os.path.join(store_path, "_LATEST")) as fh:
        meta = json.load(fh)
    v = int(meta["version"])
    return {
        "buckets_rewritten": sum(
            1 for ver in (meta.get("buckets") or {}).values() if int(ver) == v
        ),
        "bytes_mb": _mb(os.path.join(store_path, f"v{v:04d}")),
    }


def _union_check(run: Run, res: Result, pages: list[str], store) -> None:
    """The daily store's assignment equals ``run_pipeline`` over the union
    of all days (the ``tests/test_daily.py`` contract).  A cold pipeline
    does not fit the full-size run budget, so only ``--smoke`` runs it."""
    from duplicate_image_detector_spark.config import PipelineConfig
    from duplicate_image_detector_spark.plans.pipeline import run_pipeline

    out = run_pipeline(
        run.spark, run.spark.read.parquet(*pages), PipelineConfig(),
        checkpoint_dir=os.path.join(run.work, "union-ckpt"),
    )
    want = {(r["doc_id"], r["cluster_id"]) for r in out.clusters.collect()}
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in store.read(include_deleted=True).select("doc_id", "cluster_id").collect()
    }
    if got != want:
        res.errors.append(
            f"daily store differs from run_pipeline over the union: "
            f"{len(got - want)} extra, {len(want - got)} missing assignments"
        )


def daily_delta(run: Run) -> Result:
    """One timed ``DailyDedup.run_day`` over a delta day that carries
    planted duplicates of the committed base day, then the review traffic
    the refreshed store serves: rounds in which a reviewer visits the next
    group (``serve_group`` page, then ``soft_delete`` of the page's last
    non-representative member: the reference UI's /next + /delete) while a
    browser replays its next ``BROWSE_PER_ROUND`` scripted ``serve_group``
    / ``active_groups`` requests.  Rounds repeat until ``seconds`` have
    passed and at least ``REVIEW_ROUNDS`` are done; the CPU metric covers
    the day and exactly the first ``REVIEW_ROUNDS`` rounds."""
    from duplicate_image_detector_spark.plans.daily import DailyDedup

    spark, tracer = run.spark, run.tracer
    n_pool, n_delta = SIZES["daily_delta"][run.size]
    base, delta, truth = gen.daily(n_pool, n_delta, run.seed)
    data = os.path.join(run.work, "data")
    delta_path = gen.write_pages(delta, os.path.join(data, "delta.parquet"))
    with open(gen.write_json(gen.review_script(truth, run.seed),
                             os.path.join(data, "review_script.json"))) as fh:
        script = json.load(fh)
    groups = gen.positive_groups(truth)
    base_urls = set(base["url"])
    res = Result()
    res.values["cross_day_dups"] = sum(
        1 for g in groups if set(g) & base_urls
        for u in g if u not in base_urls
    )

    base_dir, built_s = _base_state(run)
    if built_s is not None:
        print(f"daily: base day built in {built_s:.1f} s", file=sys.stderr)
    state = os.path.join(run.work, "daily")
    shutil.copytree(base_dir, state)
    dd = DailyDedup(spark, state)
    store = dd.store

    # -- the timed delta day
    res.attempted += 1
    t0, c0 = time.perf_counter(), tree_cpu_s()
    try:
        stats = dd.run_day(spark.read.parquet(delta_path), "delta")
    except Exception:  # the review traffic still runs, on the base store
        traceback.print_exc()
        res.failed += 1
        res.errors.append("run_day failed")
        stats = None
    day_wall, day_cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    res.walls["day"] = [day_wall]
    res.values.update(
        n_delta=stats["n_delta_docs"] if stats else 0, state_mb=_mb(state)
    )
    if tracer.enabled:
        res.commits.append(_commit_stats(store.path))
    if stats and run.size == "smoke" and not tracer.enabled:
        base_path = gen.write_pages(base, os.path.join(data, "base.parquet"))
        _union_check(run, res, [base_path, delta_path], store)

    cid_of = {
        r["url"]: r["cluster_id"]
        for r in store.read().select("url", "cluster_id").collect()
    }

    # -- the review traffic
    lock = threading.Lock()
    deleted_at: dict[int, float] = {}  # doc_id -> time its delete returned
    deleted_total = [0]
    walls: dict[str, list[float]] = {
        "serve_group": [], "soft_delete": [], "active_groups": []
    }

    def fail(msg: str) -> None:
        with lock:
            res.errors.append(msg)

    def serve(cid) -> list:
        t0 = time.time()
        with tracer.span("cluster_store.serve_group"):
            page = store.serve_group(cid).collect()
        with lock:
            stale = [
                r["doc_id"] for r in page
                if deleted_at.get(r["doc_id"], t0) < t0
            ]
        if stale:
            fail(f"serve_group({cid}) returned deleted docs {stale}")
        return page

    def timed(kind: str, fn):
        with lock:
            res.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            with lock:
                res.failed += 1
            return None
        with lock:
            walls[kind].append(time.perf_counter() - t0)
        return out

    def delete(doc_id: int):
        with tracer.span("cluster_store.soft_delete"):
            r = store.soft_delete([doc_id])
        with lock:
            deleted_at[doc_id] = time.time()
            deleted_total[0] += r["deleted_count"]
        if r["deleted_count"] != 1:
            fail(f"soft_delete({doc_id}) deleted {r['deleted_count']} rows")
        if tracer.enabled:
            res.commits.append(_commit_stats(store.path))
        return r

    def review_step(key: str) -> None:
        with tracer.span("review.step"):
            page = timed("serve_group", lambda: serve(cid_of[key]))
            victims = [r["doc_id"] for r in page or [] if not r["is_representative"]]
            if victims:
                timed("soft_delete", lambda: delete(victims[-1]))

    def browse(op, key) -> None:
        with tracer.span("review.browse"):
            if op == "active_groups":
                def groups_page():
                    with tracer.span("cluster_store.active_groups"):
                        rows = store.active_groups().collect()
                    if any(r["n_active"] < 2 for r in rows):
                        fail("active_groups returned a group below 2 members")
                    return rows

                timed("active_groups", groups_page)
            else:
                timed("serve_group", lambda: serve(cid_of[key]))

    reviewer = iter(script["reviewer"])
    browser = iter(script["browser"])
    rounds: list[float] = []
    round_cpu: list[float] = []

    def browse_round() -> None:
        for _ in range(BROWSE_PER_ROUND):
            browse(*next(browser))

    def run_round(pool) -> None:
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with tracer.span("review.round"):
            futures = [
                pool.submit(review_step, next(reviewer)),
                pool.submit(browse_round),
            ]
            for f in futures:
                f.result()
        rounds.append(time.perf_counter() - t0)
        round_cpu.append(tree_cpu_s() - c0)

    t_start = time.perf_counter()
    with ThreadPoolExecutor(max_workers=2, thread_name_prefix="client") as pool:
        while (
            len(rounds) < REVIEW_ROUNDS
            or time.perf_counter() - t_start < run.seconds
        ):
            run_round(pool)
    window = time.perf_counter() - t_start
    print(
        f"daily: day {day_wall:.2f} s wall, {day_cpu:.2f} CPU-s; review rounds "
        "(wall s, CPU s) "
        + " ".join(f"({w:.2f}, {c:.2f})" for w, c in zip(rounds, round_cpu)),
        file=sys.stderr,
    )

    # untimed checks over the final store state
    n_log = store.deletion_log().count() if deleted_at else 0
    if n_log != deleted_total[0]:
        res.errors.append(
            f"deletion_log has {n_log} rows, soft_delete reported {deleted_total[0]}"
        )
    everyone = store.read(include_deleted=True).select(
        "url", "doc_id", "cluster_id", "status"
    ).collect()
    if any((r["status"] == "deleted") != (r["doc_id"] in deleted_at) for r in everyone):
        res.errors.append("store status disagrees with the deletes made")
    _check_quality(res, {r["url"]: r["cluster_id"] for r in everyone}, groups)
    res.values.update(
        window_s=window,
        n_requests=sum(len(w) for w in walls.values()),
        cpu_s=day_cpu + sum(round_cpu[:REVIEW_ROUNDS]),
    )
    res.walls.update(walls, round=rounds)
    return res


WORKLOADS = {"snapshot_batch": snapshot_batch, "daily_delta": daily_delta}
