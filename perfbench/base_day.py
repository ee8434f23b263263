#!/usr/bin/env python3
"""Build the ``daily_delta`` workload's base day in a process of its own.

    python3 perfbench/base_day.py OUT_DIR {full,smoke}

Runs ``DailyDedup.run_day`` over the fixed base corpus (``gen.daily``) into
``OUT_DIR`` and exits.  ``workloads.daily_delta`` calls it once per source
tree and copies the result into each run's work dir, so every timed delta
day starts from a fresh JVM against the same committed base state.  It
inherits the calling run's environment (cores, scratch dirs).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out_dir: str, size: str) -> int:
    sys.path.insert(0, ROOT)
    from duplicate_image_detector_spark.plans.daily import DailyDedup
    from duplicate_image_detector_spark.session import get_spark
    from perfbench import gen
    from perfbench.procs import stop_spark
    from perfbench.workloads import SIZES

    n_pool, n_delta = SIZES["daily_delta"][size]
    base, _, _ = gen.daily(n_pool, n_delta, seed=0)
    path = gen.write_pages(base, os.path.join(out_dir + "-input", "base.parquet"))
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        DailyDedup(spark, out_dir).run_day(spark.read.parquet(path), "base")
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
