"""Seeded inputs for the benchmark workloads.

Everything here is derived from ``--seed`` (and, for the daily loop's
base day, from the fixed ``BASE_SEED``) and written to files before any
timing starts.  The program under test receives only the pages; the
planted truth stays on the benchmark side and is used only to check
outputs.
"""

from __future__ import annotations

import json
import os
import random

import pandas as pd

from duplicate_image_detector_spark.config import PipelineConfig
from duplicate_image_detector_spark.sources.fixtures import generate_pages

#: planted families that must end up clustered together
POSITIVE = ("exact", "near", "shuffle", "substring")


def snapshot(n_docs: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(pages, truth) for one crawl snapshot.

    The fixture generator names the planted family in each url path; the
    url is rewritten to a neutral ``/doc-{seed}-{i}`` so the pages carry no
    trace of the truth.  ``truth`` keeps (url, family, family_id, admitted)
    where ``admitted`` mirrors the engine's ``min_text_len`` filter."""
    pages, truth = generate_pages(n_docs, seed=seed)
    host = pages["url"].str.extract(r"^https://([^/]+)/")[0]
    urls = [f"https://{h}/doc-{seed}-{i}" for i, h in enumerate(host)]
    pages = pages.assign(url=urls)[["url", "warc_ts", "text", "lang"]]
    truth = truth.assign(
        url=urls,
        admitted=pages["text"].str.len() >= PipelineConfig().min_text_len,
    )
    return pages, truth


def write_pages(pages: pd.DataFrame, path: str) -> str:
    """Pages as one parquet file (pyarrow, no Spark job, so nothing in the
    session is warmed by input preparation)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pages.to_parquet(path, index=False, coerce_timestamps="us")
    return path


def positive_groups(truth: pd.DataFrame) -> list[list[str]]:
    """Url groups the engine must cluster: admitted members of each planted
    positive family with at least two admitted members."""
    t = truth[truth["admitted"] & truth["family"].isin(POSITIVE)]
    groups = [sorted(g["url"]) for _, g in t.groupby("family_id")]
    return [g for g in groups if len(g) >= 2]


#: seed of the daily loop's base corpus.  The base is the same for every
#: ``--seed`` so its state can be built once per source tree (see
#: ``workloads.daily_delta``); the delta day is drawn from ``--seed``.
BASE_SEED = 7919


def daily(n_pool: int, n_delta: int, seed: int):
    """(base pages, delta pages, truth over both) for the daily loop.

    One fixed pool of ``n_pool`` pages is split, by a fixed shuffle, into
    the base day (three quarters) and a quarter of delta candidates; the
    delta day is ``n_delta`` candidates drawn with ``seed``.  Planted
    families straddle the split, so the delta carries planted duplicates
    of base docs (exact copies, near copies, shuffles, shared spans)."""
    pages, truth = snapshot(n_pool, BASE_SEED)
    order = random.Random(BASE_SEED).sample(range(n_pool), n_pool)
    candidates, base_idx = order[: n_pool // 4], sorted(order[n_pool // 4:])
    delta_idx = sorted(random.Random(seed).sample(candidates, n_delta))
    truth = truth.iloc[base_idx + delta_idx].reset_index(drop=True)
    return pages.iloc[base_idx], pages.iloc[delta_idx], truth


def review_script(truth: pd.DataFrame, seed: int) -> dict:
    """The review op script: the reviewer's group visit order (one group
    key url each) and the browsing client's request sequence (every fifth
    request an ``active_groups`` listing; far more than a run consumes).
    Groups of three or more members come first, so a delete usually leaves
    the group servable."""
    rng = random.Random(seed * 7919 + 1)
    groups = positive_groups(truth)
    big = [g[0] for g in groups if len(g) >= 3]
    small = [g[0] for g in groups if len(g) < 3]
    rng.shuffle(big)
    rng.shuffle(small)
    keys = [g[0] for g in groups]
    browse = [
        ["active_groups", None] if i % 5 == 4 else ["serve_group", rng.choice(keys)]
        for i in range(1000)
    ]
    return {"reviewer": big + small, "browser": browse}


def write_json(obj, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh)
    return path
