"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload in ``BENCHMARK.json`` once untraced and once traced
(``--smoke``, one-second window; about five minutes on 4 cores, more
when the daily base day is not built yet) and checks the output contract:
every end-to-end metric (untraced) and every per-layer metric (traced)
prints with its unit, the planted-truth checks pass (the untraced daily run
also checks the store against ``run_pipeline`` over both days), and the
traced spans cover at least 90% of each top-level span's wall.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

#: metrics every untraced run prints on its detail line
COMMON_DETAIL = [
    "docs_per_s", "peak_rss_mb", "dup_pair_recall", "false_merge_pairs",
    "ops_attempted", "ops_failed",
]
#: workload-specific metrics named in the detail line, by workload
DETAIL = {
    "snapshot_batch": ["op_wall_s"],
    "daily_delta": [
        "day_wall_s", "read_p50_ms", "read_tail_ms", "delete_p50_ms",
        "delete_tail_ms", "review_ops_per_s", "cross_day_dups",
    ],
}


def _run(workload: str, trace: int) -> tuple[dict, dict[str, str]]:
    """(result object, {line tag: JSON payload}) of one smoke invocation."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    tagged = dict(line.split(" ", 1) for line in lines[:-1] if " " in line)
    return json.loads(lines[-1]), tagged


def _check_metrics(result: dict, expected: list[dict]) -> None:
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    got = result["metrics"]
    assert set(got) == {m["name"] for m in expected}
    for m in expected:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], float)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_prints_end_to_end_metrics(workload):
    result, tagged = _run(workload, trace=0)
    _check_metrics(result, SPEC["end_to_end"])
    for name in ("setup_s", "cpu_s", "pair_recall", "state_mb"):
        assert result["metrics"][name]["value"] > 0
    detail = json.loads(tagged["detail"])
    for name in DETAIL[workload] + COMMON_DETAIL:
        assert detail[name]["unit"]
        assert isinstance(detail[name]["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_prints_per_layer_metrics_and_covers_spans(workload):
    result, tagged = _run(workload, trace=1)
    _check_metrics(result, SPEC["per_layer"])
    coverage = json.loads(tagged["coverage"])
    assert coverage, "no top-level span with children was recorded"
    for name, share in coverage.items():
        assert share >= 0.9, (name, share)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["session.get_spark_s"] > 0 and m["trace.op_wall_s"] > 0
    if workload == "snapshot_batch":
        assert m["signatures.signatures.busy_s"] > 0
        assert m["components.components.rows_out"] > 0
    else:
        assert m["daily.run_day.wall_s"] > 0
        assert m["daily.signatures.busy_s"] > 0
        assert m["incremental_pairs.pairs.busy_s"] > 0
        assert m["cluster_store.apply_update.busy_s"] > 0
        assert m["cluster_store.soft_delete.busy_s"] > 0
        assert m["cluster_store.commit.buckets_rewritten"] >= 1
