"""Calibration probes, recorded with every run so box drift shows.

The three fixed-work probes of ``bench.py`` (``_calibration``), scaled
down so that together they cost under two seconds a run:

- ``cpu_s``: a pure-codegen range fold over 10^8 rows; constant work,
  no IO; one warm-up, then one timed repetition;
- ``scan_s``: a lineitem scan and aggregate over a fixed generated
  table (sf 0.05, 300 000 rows); one warm-up, one timed repetition;
- ``job_s``: ten trivial actions, the fixed per-job scheduler cost,
  timed once: the workload before it has warmed the scheduler up.
"""

from __future__ import annotations

import time


def calibration(spark, lineitem_path: str) -> dict[str, float]:
    def cpu() -> None:
        spark.range(0, 100_000_000, 1, 32).selectExpr(
            "sum((id * 2654435761) % 1000003) AS s"
        ).collect()

    def scan() -> None:
        spark.read.parquet(lineitem_path).selectExpr(
            "sum(l_extendedprice * (1.0 - l_discount)) AS rev", "count(*) AS n"
        ).collect()

    def job() -> None:
        for _ in range(10):
            spark.range(1).selectExpr("count(*)").collect()

    out = {}
    for key, fn, warm_up in (("cpu_s", cpu, True), ("scan_s", scan, True), ("job_s", job, False)):
        if warm_up:
            fn()
        t0 = time.perf_counter()
        fn()
        out[key] = time.perf_counter() - t0
    return out
