"""The workloads: what each runs, times and checks.

Every workload is a closed loop with one client: the next operation is
issued when the previous one returns. The cold operation is the first
after the session is ready, what a freshly scheduled job pays. After an
untimed warm-up the warm loop runs until ``seconds`` have passed and at
least ``DAILY_WARM`` days or ``MIX_WARM`` passes are done. Each
operation is timed twice: wall time, and the CPU time of the program's
processes (``procs.Timed``). The end-to-end metrics are the CPU times,
``cold_cpu_s`` and ``warm_cpu_s``, which ``run`` scales to a reference
host speed (``procs.reference_scale``). ``warm_cpu_s`` is a mean, the
warm operations' CPU seconds over their count: the JVM is still
compiling, and how much of that work lands in one operation or the
next varies while the total holds. When the box's
neighbours steal CPU, a run's wall times rise with the steal (a warm
day load took 4.4 s in one run, 8.8 s in another) and its CPU times
far less. Wall times are per-layer metrics (``op.cold_s``,
``op.warm_s``). Correctness gates run outside the timed regions.

In a traced run there are twice as many warm operations, traced and
untraced in the order T U U T (repeated), so that the warm-up still
under way in the first warm operations weighs on both sides alike.
Per-layer numbers come from the traced ones, ``op.warm_s`` from the
untraced ones, and ``trace.overhead_s`` is the difference.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.procs import Timed
from perfbench.trace import Tracer, dir_stats

# metric -> unit. Every workload reports every end-to-end metric.
E2E_UNITS = {"setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s", "peak_rss_mb": "MB"}

ZONES = ("clean", "curated", "warehouse")
ZONE_COUNTS = ("jobs", "stages", "tasks", "tasks_failed")
# per-layer time of a traced medallion op -> the span whose self time it sums
SPAN_LAYERS = {
    "sources.read_json_s": "probe.read_json",
    "playback.clean_s": "probe.clean",
    "playback.curate_s": "probe.curate",
    "delta.anti_join_s": "probe.anti_join",
    "sources.read_csv_s": "sources.read_csv",
    "writers.write_csv_s": "writers.write_csv",
    "writers.write_parquet_s": "writers.write_parquet",
    "warehouse.scan_s": "warehouse.scan",
    "warehouse.append_s": "warehouse.append",
}
# One registered query per family, chosen to fit the run's time budget
# (see WORKLOADS.md): the flagship bag-join-sort DAG, MinHash-LSH
# pairing, the packed-BLAS top-k kernel, n-gram scoring and a
# stream-static join.
FAMILIES = {
    "sql": ["q00_flagship_pipeline"],
    "near_dup": ["qd5_minhash_lsh_pairs"],
    "ann": ["qs4_cosine_topk_blas"],
    "text": ["qt10_ngram_lm_score"],
    "stream": ["qst3_streaming_static_enrich"],
}
MIX = [q for qs in FAMILIES.values() for q in qs]
MIX_SF = 0.01
MIX_WARM = 3


def _short(query: str) -> str:
    return query.split("_")[0]


def _layer_units() -> dict[str, str]:
    u = {
        "session.get_spark_s": "s",
        "session.job_latency_s": "s",
        "calib.cpu_s": "s",
        "calib.scan_s": "s",
        "calib.job_s": "s",
        "trace.overhead_s": "s",
        "op.setup_s": "s",
        "op.cold_s": "s",
        "op.warm_s": "s",
        "op.rerun_s": "s",
        "op.plays_per_s": "1/s",
        "warehouse.bytes_per_play": "B",
        "warehouse.files": "count",
        "delta.appended_ratio": "ratio",
    }
    for z in ZONES:
        u[f"{z}.s"] = "s"
        for c in ZONE_COUNTS:
            u[f"{z}.{c}"] = "count"
        u[f"{z}.bytes_written"] = "B"
        u[f"{z}.files_written"] = "count"
    u.update({name: "s" for name in SPAN_LAYERS})
    u.update({f"family.{fam}_s": "s" for fam in FAMILIES})
    for q in MIX:
        u[f"query.{_short(q)}.s"] = "s"
        u[f"query.{_short(q)}.jobs"] = "count"
    return u


# Every per-layer metric with its unit. A workload reports all of them;
# layers it does not call read 0.
LAYER_UNITS = _layer_units()


@dataclass
class Ctx:
    spark: object
    registry: dict | None
    tr: Tracer
    work: str
    seed: int
    seconds: float


@dataclass
class Result:
    cold_s: float = 0.0
    warm_s: float = 0.0
    cold_cpu_s: float = 0.0
    warm_cpu_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=lambda: dict.fromkeys(LAYER_UNITS, 0.0))
    detail: dict = field(default_factory=dict)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _traced_slot(k: int) -> bool:
    """Whether warm operation ``k`` (from 0) is traced in a traced run."""
    return k % 4 in (0, 3)


# --- daily_incremental ------------------------------------------------

PLAYS_PER_DAY = 50
HISTORY_DAYS = 365
DAILY_WARM = 4
FIRST_DAY = dt.date(2025, 1, 1)


def _traced_load_layers(tr: Tracer, root: int, out_root: str, wh_root: str,
                        wh_before: tuple[int, int], appended: dict[str, int]) -> dict:
    """Per-layer numbers of one traced load (span ``root``)."""
    from perfbench import medallion as med

    lay = {}
    for z in ZONES:
        t = tr.totals(f"zone.{z}", root)
        lay[f"{z}.s"] = t["wall"]
        for c in ZONE_COUNTS:
            lay[f"{z}.{c}"] = t[c]
    for metric, span in SPAN_LAYERS.items():
        lay[metric] = tr.totals(span, root)["self"]
    for z, d in (("clean", "01_clean_zone"), ("curated", "02_curated_zone")):
        lay[f"{z}.bytes_written"], lay[f"{z}.files_written"] = dir_stats(
            os.path.join(out_root, d))
    wb, wf = dir_stats(wh_root)
    lay["warehouse.bytes_written"] = wb - wh_before[0]
    lay["warehouse.files_written"] = wf - wh_before[1]
    offered = sum(med.FooterRows(os.path.join(out_root, "02_curated_zone")).rows().values())
    lay["delta.appended_ratio"] = sum(appended.values()) / offered
    return lay


def daily_incremental(ctx: Ctx) -> Result:
    """One ~50-play day at a time into a warehouse holding a year of
    daily appends. The first day is loaded (the cold operation), then
    re-run, untimed, which warms the later loads up; each later day is
    loaded once, a warm operation. A load must append the day's plays,
    a re-run nothing."""
    from perfbench import medallion as med
    from spotify_pipeline_gcp_spark.sinks.writers import ParquetWarehouse

    spark, tr, work = ctx.spark, ctx.tr, ctx.work
    cat = gen.Catalog(ctx.seed)
    landing = os.path.join(work, "landing")
    wh_root = os.path.join(work, "warehouse")
    history = [FIRST_DAY - dt.timedelta(days=HISTORY_DAYS - i) for i in range(HISTORY_DAYS)]
    gen.write_history(landing, wh_root, cat, ctx.seed, history, PLAYS_PER_DAY)
    landing_files = [gen.landing_file(landing, d) for d in history]
    wh = ParquetWarehouse(spark, wh_root)
    footer = med.FooterRows(wh_root)
    tracing = tr.enabled

    res = Result()
    loads, reruns, traced_layers = [], [], []
    end = None
    i = 0
    while i <= DAILY_WARM * (2 if tracing else 1) or time.perf_counter() < end:
        if i == 1:
            end = time.perf_counter() + ctx.seconds
        day = FIRST_DAY + dt.timedelta(days=i)
        gen.write_landing(landing, cat, ctx.seed, [day], PLAYS_PER_DAY)
        landing_files.append(gen.landing_file(landing, day))
        out_root = os.path.join(work, "zones", day.isoformat())
        tr.enabled = tracing and i > 0 and _traced_slot(i - 1)
        for kind in ("load", "rerun") if i == 0 else ("load",):
            before, wh_before = footer.rows(), dir_stats(wh_root)
            probes = tr.enabled and kind == "load"
            res.attempted += 1
            with tr.span(f"op.{kind}"):
                root = len(tr.spans) - 1
                with Timed() as op:
                    med.run_job(spark, tr, landing_files[-1], out_root, wh, probes=probes)
            after = footer.rows()
            appended = {t: after[t] - before[t] for t in after}
            want = PLAYS_PER_DAY if kind == "load" else 0
            if appended["playback_hist"] != want or (kind == "rerun" and any(appended.values())):
                res.failed += 1
                res.problems.append(f"{day} {kind}: appended {appended}, expected {want} plays")
            if kind == "rerun":
                reruns.append(op.wall)
            elif i == 0:
                res.cold_s, res.cold_cpu_s = op.wall, op.cpu
            elif probes:
                traced_layers.append(
                    _traced_load_layers(tr, root, out_root, wh_root, wh_before, appended))
            else:
                loads.append(op)
        i += 1
    tr.enabled = tracing

    schema_problems = med.check_history_schema(wh_root)
    problems, doubled = med.check_warehouse(wh_root, landing_files)
    res.attempted += 2
    res.failed += bool(schema_problems) + bool(problems)
    res.problems += schema_problems + problems
    res.warm_s = _median([t.wall for t in loads])
    res.warm_cpu_s = statistics.mean(t.cpu for t in loads)
    new_days = landing_files[HISTORY_DAYS:]
    res.detail = {"days": i, "landing_json_bytes": sum(map(os.path.getsize, new_days)),
                  "cold": [res.cold_s, res.cold_cpu_s],
                  "loads": [t.wall for t in loads], "loads_cpu": [t.cpu for t in loads],
                  "reruns": reruns, "known_defect_doubled_artist_bags": doubled}
    if tracing:
        for k in traced_layers[0]:
            res.layers[k] = _median([lay[k] for lay in traced_layers])
        res.layers["trace.overhead_s"] = _median(
            [sum(lay[f"{z}.s"] for z in ZONES) for lay in traced_layers]) - res.warm_s
        res.layers["op.rerun_s"] = _median(reruns)
        res.layers["op.plays_per_s"] = PLAYS_PER_DAY / res.warm_s
        res.layers["warehouse.files"] = dir_stats(wh_root)[1]
        res.layers["warehouse.bytes_per_play"] = (
            dir_stats(os.path.join(wh_root, "playback_hist"))[0]
            / footer.rows()["playback_hist"])
    return res


# --- query_mix --------------------------------------------------------


def query_mix(ctx: Ctx) -> Result:
    """The cold operation is the first pass over ``MIX`` after session
    start, each query's first run: a fresh job running its queries. A
    single cold query is too short to time steadily, since how much of
    the JVM's start-up compilation lands in it varies from run to run.
    The untimed correctness pass follows, then warm passes over
    ``MIX``: the warm wall time is the sum over queries of each query's
    median untraced time, the warm CPU time the mean of a pass."""
    from perfbench import querymix as qm

    spark, tr, reg = ctx.spark, ctx.tr, ctx.registry
    sf_dir = os.path.join(ctx.work, "star")
    gen.write_star_schema(sf_dir, ctx.seed, MIX_SF)
    tracing = tr.enabled
    tr.enabled = False
    res = Result(attempted=2 * len(MIX))
    cold = [qm.run_query(spark, reg, q, sf_dir, tr) for q in MIX]
    res.cold_s, res.cold_cpu_s = sum(op.wall for op in cold), sum(op.cpu for op in cold)
    res.problems = qm.check(spark, reg, MIX, sf_dir)
    res.failed = len(res.problems)

    passes, traced = [], []
    end = time.perf_counter() + ctx.seconds
    while (len(passes) + len(traced) < MIX_WARM * (2 if tracing else 1)
           or time.perf_counter() < end):
        tr.enabled = tracing and _traced_slot(len(passes) + len(traced))
        (traced if tr.enabled else passes).append(
            {q: qm.run_query(spark, reg, q, sf_dir, tr) for q in MIX})
        res.attempted += len(MIX)
    tr.enabled = tracing
    res.warm_s = sum(_median([p[q].wall for p in passes]) for q in MIX)
    res.warm_cpu_s = statistics.mean(sum(op.cpu for op in p.values()) for p in passes)
    res.detail = {"cold": [res.cold_s, res.cold_cpu_s],
                  "passes": [sum(op.wall for op in p.values()) for p in passes],
                  "passes_cpu": [sum(op.cpu for op in p.values()) for p in passes],
                  "queries": {q: _median([p[q].wall for p in passes]) for q in MIX}}
    if tracing:
        for q in MIX:
            res.layers[f"query.{_short(q)}.s"] = _median([p[q].wall for p in traced])
            res.layers[f"query.{_short(q)}.jobs"] = tr.totals(f"query.{q}")["jobs"] / len(traced)
        for fam, qs in FAMILIES.items():
            res.layers[f"family.{fam}_s"] = sum(res.layers[f"query.{_short(q)}.s"] for q in qs)
        res.layers["trace.overhead_s"] = (
            sum(res.layers[f"query.{_short(q)}.s"] for q in MIX) - res.warm_s)
    return res


WORKLOADS = {"daily_incremental": daily_incremental, "query_mix": query_mix}
