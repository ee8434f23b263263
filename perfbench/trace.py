"""Spans around the engine's public calls, and the Spark event log behind them.

A traced run records one span per layer call: the benchmark's own client
code opens spans around the calls it makes, and ``install`` wraps
``CheckpointManager.run`` (so every pipeline and daily-loop stage gets a
span named ``<module>.<stage>``), ``DailyDedup.run_day`` and
``compact_state``, and ``ClusterStore.read``, ``apply_update`` and
``vacuum``.  Each span sets the calling thread's Spark job group
to its own id, so every job, stage and task in the event log can be charged
to the span that caused it, even when ``run_pipeline`` runs its tiers from
concurrent driver threads (``install`` also makes executor threads inherit
the submitting thread's span).  Untraced runs use ``NullTracer``: no
wrappers, no job groups, no event log.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

#: CheckpointManager stage name -> the module whose operator computes it
STAGE_MODULE = {
    "docs": "pipeline",
    "near_docs": "pipeline",
    "signatures": "signatures",
    "candidates": "lsh",
    "shingle_sets": "verify",
    "verified": "verify",
    "exact": "exact",
    "substring": "substring",
    "edges": "pipeline",
    "components": "components",
    "clusters": "representative",
}
#: the same inside ``DailyDedup.run_day``
DAILY_STAGE_MODULE = {
    "docs": "daily",
    "signatures": "daily",
    "band_rows": "daily",
    "chunk_rows": "daily",
    "exact_keys": "daily",
    "substr_fps": "daily",
    "pairs": "incremental_pairs",
    "clusters": "incremental_pairs",
}

_GROUP = "spark.jobGroup.id"


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: dict | None) -> None:
        self.sc.setLocalProperty(_GROUP, None if span is None else str(span["id"]))

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        s = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(s)

    def adopt(self, stack: list[dict]) -> None:
        """Make the calling thread continue inside ``stack``'s innermost
        span (used for executor threads)."""
        self._local.stack = list(stack)
        self._set_group(stack[-1] if stack else None)

    def install(self) -> None:
        """Wrap the layers' public calls for this process; ``uninstall``
        restores them."""
        from duplicate_image_detector_spark.plans.daily import DailyDedup
        from duplicate_image_detector_spark.sources.checkpoints import (
            CheckpointManager,
        )
        from duplicate_image_detector_spark.sources.cluster_store import (
            ClusterStore,
        )

        tracer = self
        orig_run = CheckpointManager.run
        orig_submit = ThreadPoolExecutor.submit

        def run(mgr, stage, fn, *args, **kwargs):
            daily = any(s["name"] == "daily.run_day" for s in tracer._stack())
            module = (DAILY_STAGE_MODULE if daily else STAGE_MODULE).get(stage, "pipeline")
            with tracer.span(f"{module}.{stage}", stage=stage) as s:
                out = orig_run(mgr, stage, fn, *args, **kwargs)
                s["rows_out"] = mgr.stage_rows.get(stage)
                s["path"] = mgr.stage_path(stage) if mgr.enabled else None
            return out

        def spanned(name, orig):
            def call(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)

            return call

        def submit(pool, fn, *args, **kwargs):
            ctx = list(tracer._stack())

            def inherit(*a, **kw):
                tracer.adopt(ctx)
                try:
                    return fn(*a, **kw)
                finally:
                    tracer.adopt([])

            return orig_submit(pool, inherit, *args, **kwargs)

        self._undo = [
            (CheckpointManager, "run", orig_run),
            (ThreadPoolExecutor, "submit", orig_submit),
        ]
        CheckpointManager.run = run
        ThreadPoolExecutor.submit = submit
        for owner, attr, name in (
            (DailyDedup, "run_day", "daily.run_day"),
            (DailyDedup, "compact_state", "daily.compact_state"),
            (ClusterStore, "read", "cluster_store.read"),
            (ClusterStore, "apply_update", "cluster_store.apply_update"),
            (ClusterStore, "vacuum", "cluster_store.vacuum"),
        ):
            orig = getattr(owner, attr)
            self._undo.append((owner, attr, orig))
            setattr(owner, attr, spanned(name, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in self._undo:
            setattr(owner, attr, orig)
        self._undo = []


# -- span arithmetic -------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def child_coverage(spans: list[dict]) -> dict[int, float]:
    """span id -> seconds of its interval covered by its direct children."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: _union(kids.get(s["id"], [])) for s in spans}


def self_times(spans: list[dict]) -> dict[int, float]:
    cov = child_coverage(spans)
    return {s["id"]: (s["end"] - s["start"]) - cov[s["id"]] for s in spans}


def top_level_coverage(spans: list[dict]) -> dict[str, float]:
    """Lowest share of a top-level span's wall that its children cover,
    per name of a top-level span that has children (a top-level span
    without children is a single layer call, with nothing to cover)."""
    cov = child_coverage(spans)
    parents = {s["parent"] for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        if s["parent"] is None and s["id"] in parents:
            wall = s["end"] - s["start"]
            share = cov[s["id"]] / wall if wall > 0 else 1.0
            out[s["name"]] = min(out.get(s["name"], 1.0), share)
    return out


# -- event log -------------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per-span-id task totals from the Spark event log in ``log_dir``:
    busy_s (summed executor run time), queue_s (summed task launch minus
    stage submission), shuffle_write_mb, and per-stage task run times.
    Stages submitted outside any span are charged to the id ``None``."""
    stage_group: dict[int, str | None] = {}
    stage_submit: dict[int, float] = {}
    per: dict = defaultdict(
        lambda: {"busy_s": 0.0, "queue_s": 0.0, "shuffle_write_mb": 0.0,
                 "stage_tasks": defaultdict(list)}
    )
    paths = [
        os.path.join(root, n)
        for root, _, names in os.walk(log_dir)
        for n in names
        if not n.startswith((".", "appstatus"))
    ]
    # rolling logs: events_<index>_<app>; order by index
    paths.sort(key=lambda p: [int(t) if t.isdigit() else t for t in os.path.basename(p).split("_")])
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stage_group[sid] = (ev.get("Properties") or {}).get(_GROUP)
                    stage_submit[sid] = info.get("Submission Time") or 0
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    acc = per[stage_group.get(sid)]
                    run_ms = tm.get("Executor Run Time", 0)
                    acc["busy_s"] += run_ms / 1000
                    launch = info.get("Launch Time")
                    if launch and sid in stage_submit:
                        acc["queue_s"] += max(0, launch - stage_submit[sid]) / 1000
                    sw = tm.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    acc["stage_tasks"][sid].append(run_ms)
    return per


def task_skew(stage_tasks: dict[int, list[int]]) -> float:
    """max/median task run time of the stage with the most summed run
    time (0 when the span ran no tasks)."""
    if not stage_tasks:
        return 0.0
    times = max(stage_tasks.values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0


def dir_stats(path: str | None) -> tuple[float, int]:
    """(MB of all files, number of ``part-*`` data files) under ``path``."""
    if not path or not os.path.isdir(path):
        return 0.0, 0
    size, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            if n.startswith("part-"):
                files += 1
    return size / 1e6, files
