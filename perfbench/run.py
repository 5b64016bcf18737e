"""The repository's benchmark: the medallion pipeline and a query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload daily_incremental --seed 1 \
        --seconds 5 --trace 0

Workloads (sizes, metrics and the layer map are in WORKLOADS.md):

- ``daily_incremental``: one ~50-play day at a time into a warehouse
  pre-seeded with a year of daily appends; the first day is re-run
  and the re-run must append nothing.
- ``query_mix``: one registered query per family over a generated
  star schema, each drained with ``write.format("noop")``.

The program is driven only through the package's public functions, by
one client in a closed loop, on a ``local[nproc]`` session. Inputs are
generated from ``--seed`` into ``.bench_work/`` under the current
directory and removed at exit. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The
end-to-end times are CPU seconds of the program's processes, scaled to
a reference host speed (see ``procs``). The line before it carries
per-operation wall and CPU times, the calibration probes, the wall and
CPU set-up times, the speed probe and scale, and the CPU steal share. The exit code is 1 when a correctness gate fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, workloads  # noqa: E402
from perfbench.probes import calibration  # noqa: E402
from perfbench.procs import (  # noqa: E402
    RssSampler,
    cpu_seconds,
    reference_scale,
    speed_probe,
)
from perfbench.trace import Tracer  # noqa: E402


def process_age() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot. Steal is time the hypervisor
    gave to another guest while this machine's CPUs had work."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7]


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the program, Spark and its workers write inside
    the work directory, and give the package's stores a home there."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # HotSpot writes its perf-data file to /tmp whatever the tmpdir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(cpu_count()),
        SPARK_GRAFT_MANIFEST_DIR=os.path.join(work, "manifests"),
        SPARK_GRAFT_MODEL_STORE=os.path.join(work, "models"),
        SPARK_GRAFT_SCRATCH=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, with_registry: bool):
    """The session plus, for the query mix, the query registry: what a
    job pays before its first operation. Returns (spark, registry,
    seconds spent in ``get_spark``)."""
    from spotify_pipeline_gcp_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=cpu_count(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )
    get_spark_s = time.perf_counter() - t0
    registry = None
    if with_registry:
        from spotify_pipeline_gcp_spark.queries import load_all

        registry = load_all()
    return spark, registry, get_spark_s


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


# Host-speed probes after the program has stopped (~0.1 s each). A busy
# or quiet period of the host lasts far longer than a run.
PROBES = 9


def measure(args, work: str, bench_dir: str) -> int:
    ticks0 = cpu_ticks()
    rss = RssSampler()
    rss.start()
    try:
        spark, registry, get_spark_s = start_session(work, args.workload == "query_mix")
    except BaseException:
        rss.stop()
        raise
    # set-up: CPU seconds of the program (the end-to-end metric) and
    # wall seconds (per-layer) from process start to a ready session
    setup_cpu_s, setup_wall_s = cpu_seconds(), process_age()
    tr = Tracer(spark, enabled=bool(args.trace))
    try:
        ctx = workloads.Ctx(spark, registry, tr, work, args.seed, args.seconds)
        res = workloads.WORKLOADS[args.workload](ctx)
        calib_dir = os.path.join(work, "calibration")
        gen.write_star_schema(calib_dir, 0, 0.05, tables=("lineitem",))
        calib = calibration(spark, os.path.join(calib_dir, "lineitem.parquet"))
    finally:
        peak_rss_mb = rss.stop()
        stop_session(spark)
    ticks1 = cpu_ticks()
    steal_pct = 100 * (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    for _ in range(PROBES):
        speed_probe()
    probe_s, scale = reference_scale()

    if args.trace:
        tr.write(os.path.join(bench_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        values = dict(res.layers, **{f"calib.{k}": v for k, v in calib.items()})
        values["session.get_spark_s"] = get_spark_s
        values["session.job_latency_s"] = calib["job_s"] / 10
        values["op.setup_s"], values["op.cold_s"], values["op.warm_s"] = (
            setup_wall_s, res.cold_s, res.warm_s)
        units = workloads.LAYER_UNITS
    else:
        values = dict(setup_s=setup_cpu_s * scale, cold_cpu_s=res.cold_cpu_s * scale,
                      warm_cpu_s=res.warm_cpu_s * scale, peak_rss_mb=peak_rss_mb)
        units = workloads.E2E_UNITS
    for p in res.problems:
        print(f"GATE FAILED: {p}", file=sys.stderr)
    print(json.dumps({"detail": res.detail, "calibration": calib, "steal_pct": steal_pct,
                      "setup_wall_s": setup_wall_s, "setup_cpu_s": setup_cpu_s,
                      "probe_s": probe_s, "scale": scale}))
    result = {
        "correct": not res.problems,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 1 if res.problems else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench_dir = os.path.join(os.getcwd(), ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    try:
        return measure(args, work, bench_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(bench_dir)  # only when no spans file is left in it


if __name__ == "__main__":
    sys.exit(main())
