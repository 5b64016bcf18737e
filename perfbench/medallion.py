"""The reference's medallion pipeline, driven through public functions.

landing JSON --clean--> CSV --curated--> parquet --warehouse--> delta
append into a ``ParquetWarehouse``. One call of ``run_job`` is one
scheduled daily job. Every call into a package layer sits in a tracer
span named after the layer.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq

from perfbench.gen import WAREHOUSE_KEYS, WAREHOUSE_SCHEMAS
from perfbench.trace import Tracer
from spotify_pipeline_gcp_spark.operators.delta import delta_append
from spotify_pipeline_gcp_spark.operators.playback import (
    curate,
    explode_items,
    run_clean_zone,
)
from spotify_pipeline_gcp_spark.schemas import PLAYBACK_DOC
from spotify_pipeline_gcp_spark.sinks.writers import (
    ParquetWarehouse,
    write_csv,
    write_parquet,
)
from spotify_pipeline_gcp_spark.sources.readers import read_csv, read_json, read_parquet

TABLES = list(WAREHOUSE_SCHEMAS)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_job(
    spark,
    tr: Tracer,
    landing_path: str,
    out_root: str,
    warehouse: ParquetWarehouse,
    probes: bool = False,
) -> None:
    """Run the clean, curated and warehouse zones for one landing file.

    With ``probes`` (traced runs only) each zone is preceded by drains
    that time a layer's compute without its sink: the scan plus
    explode, the clean and curate transforms, and the delta anti-join.
    The probes sit in spans of their own, outside the zone spans, and
    leave the zones' own work unchanged.
    """
    clean_dir = os.path.join(out_root, "01_clean_zone")
    curated_dir = os.path.join(out_root, "02_curated_zone")

    if probes:
        raw = read_json(spark, landing_path, PLAYBACK_DOC)
        with tr.span("probe.read_json"):
            _noop(explode_items(raw))
        with tr.span("probe.clean"):
            for df in run_clean_zone(raw).values():
                _noop(df)
    with tr.span("zone.clean"):
        with tr.span("sources.read_json"):
            raw = read_json(spark, landing_path, PLAYBACK_DOC)
        with tr.span("playback.clean"):
            tables = run_clean_zone(raw)
        for name in TABLES:
            with tr.span("writers.write_csv"):
                write_csv(tables[name], os.path.join(clean_dir, name))

    if probes:
        with tr.span("probe.curate"):
            for name in TABLES:
                _noop(curate(read_csv(spark, os.path.join(clean_dir, name))))
    with tr.span("zone.curated"):
        for name in TABLES:
            with tr.span("sources.read_csv"):
                df = read_csv(spark, os.path.join(clean_dir, name))
            with tr.span("playback.curate"):
                cur = curate(df)
            with tr.span("writers.write_parquet"):
                write_parquet(cur, os.path.join(curated_dir, name))

    if probes:
        with tr.span("probe.anti_join"):
            for name in TABLES:
                batch = read_parquet(spark, os.path.join(curated_dir, name))
                _noop(delta_append(batch, warehouse.scan(name), [WAREHOUSE_KEYS[name]]))
    with tr.span("zone.warehouse"):
        for name in TABLES:
            with tr.span("sources.read_parquet"):
                batch = read_parquet(spark, os.path.join(curated_dir, name))
            with tr.span("warehouse.scan"):
                existing = warehouse.scan(name)
            with tr.span("delta.delta_append"):
                new = delta_append(batch, existing, [WAREHOUSE_KEYS[name]])
            with tr.span("warehouse.append"):
                warehouse.append(new, name)


# --- row counts and correctness gates ---------------------------------


class FooterRows:
    """Row counts per table under ``root`` from parquet footers, reading
    each file once."""

    def __init__(self, root: str):
        self.root = root
        self._seen: dict[str, int] = {}

    def rows(self) -> dict[str, int]:
        out = {}
        for table in TABLES:
            d = os.path.join(self.root, table)
            n = 0
            for f in os.listdir(d):
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    p = os.path.join(d, f)
                    if p not in self._seen:
                        self._seen[p] = pq.ParquetFile(p).metadata.num_rows
                    n += self._seen[p]
            out[table] = n
        return out


def check_history_schema(wh_root: str) -> list[str]:
    """The pre-seeded history must carry the exact schema the job
    writes, else the warehouse mixes two layouts: compare one history
    file and one Spark-written file of each table."""
    problems = []
    for t in TABLES:
        files = sorted(glob.glob(os.path.join(wh_root, t, "*.parquet")))
        hist = [f for f in files if f.endswith("-history.snappy.parquet")]
        spark = [f for f in files if not f.endswith("-history.snappy.parquet")]
        if not hist or not spark:
            continue
        want = pq.read_schema(spark[0]).remove_metadata()
        got = pq.read_schema(hist[0]).remove_metadata()
        if not got.equals(want):
            problems.append(f"{t}: history schema {got} != job schema {want}")
    return problems


_FLATTEN = """
WITH raw AS (
  SELECT it.played_at AS played_at, it.track.id AS track_id,
         it.track.album.id AS album_id,
         list_transform(it.track.artists, a -> [a."name", a.id, a.uri]) AS bag
  FROM (SELECT unnest(items) AS it FROM read_json({landing}, columns={{'items': 'STRUCT(
    played_at VARCHAR,
    track STRUCT(id VARCHAR, album STRUCT(id VARCHAR),
                 artists STRUCT(id VARCHAR, "name" VARCHAR, uri VARCHAR)[]))[]'}}))
), plays AS (
  SELECT played_at, track_id, any_value(album_id) AS album_id, count(*) AS copies,
         list_sort(any_value(bag)) AS bag, list_sort(flatten(list(bag))) AS bag_all
  FROM raw GROUP BY played_at, track_id
)
SELECT CAST(played_at AS TIMESTAMPTZ) AS played_at, track_id, album_id, copies,
       array_to_string(list_transform(bag, x -> x[1]), ', ') AS artist_names,
       array_to_string(list_transform(bag, x -> x[2]), ', ') AS artist_ids,
       array_to_string(list_transform(bag_all, x -> x[1]), ', ') AS names_all,
       array_to_string(list_transform(bag_all, x -> x[2]), ', ') AS ids_all
FROM plays
"""

_PLAYS_DIFF = """
SELECT
  count(*) FILTER (WHERE g.played_at IS NULL OR w.played_at IS NULL) AS missing_or_extra,
  count(*) FILTER (WHERE g.played_at IS NOT NULL AND w.played_at IS NOT NULL
    AND (g.album_id IS DISTINCT FROM w.album_id
         OR ((g.artist_names, g.artist_ids) IS DISTINCT FROM (w.artist_names, w.artist_ids)
             AND NOT (w.copies > 1 AND (g.artist_names, g.artist_ids)
                                       = (w.names_all, w.ids_all))))) AS wrong,
  count(*) FILTER (WHERE w.copies > 1
    AND (g.artist_names, g.artist_ids) IS DISTINCT FROM (w.artist_names, w.artist_ids)
    AND (g.artist_names, g.artist_ids) = (w.names_all, w.ids_all)) AS doubled_bags
FROM want w FULL OUTER JOIN {got} g
  ON g.played_at = w.played_at AND g.track_id = w.track_id
"""


def check_warehouse(wh_root: str, landing_files: list[str]) -> tuple[list[str], int]:
    """Compare the warehouse with an independent DuckDB flatten of every
    landing document it was loaded from, the seeded history's included.

    Each play key must appear exactly once, with the album and the
    sorted artist bag strings of its track; the album and artist
    dimensions must hold each id of the flatten exactly once. Returns
    the problems and, separately, the count of plays whose landing
    document lists the identical item more than once and whose bag
    repeats every artist once per copy. That is a known defect of
    ``bag_artists`` (it collects over the raw items before the play is
    deduplicated, as the reference job does); it is reported on every
    run, and every other deviation on those rows still fails the gate.
    """
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    files = "[" + ", ".join(f"'{f}'" for f in landing_files) + "]"
    con.execute(f"CREATE TEMP TABLE want AS {_FLATTEN.format(landing=files)}")
    got = {t: f"read_parquet('{os.path.join(wh_root, t)}/*.parquet')" for t in TABLES}
    problems = []
    missing, wrong, doubled = con.execute(
        _PLAYS_DIFF.format(got=got["playback_hist"])
    ).fetchone()
    if missing or wrong:
        problems.append(
            f"playback_hist: {missing} plays missing or extra, {wrong} with wrong values"
        )
    dims = {
        "playback_hist": ("played_at", "SELECT DISTINCT played_at FROM want"),
        "albums": ("album_id", "SELECT DISTINCT album_id FROM want"),
        "artists": ("artist_id",
                    "SELECT DISTINCT unnest(string_split(artist_ids, ', ')) FROM want"),
    }
    for t, (key, want_keys) in dims.items():
        n_rows, n_keys = con.execute(
            f"SELECT count(*), count(DISTINCT {key}) FROM {got[t]}"
        ).fetchone()
        diff = con.execute(
            f"SELECT count(*) FROM (({want_keys}) EXCEPT (SELECT {key} FROM {got[t]}))"
            f" UNION ALL SELECT count(*) FROM ((SELECT {key} FROM {got[t]}) EXCEPT ({want_keys}))"
        ).fetchall()
        if n_rows != n_keys or any(d[0] for d in diff):
            problems.append(
                f"{t}: {n_rows - n_keys} duplicate keys, {diff[0][0]} keys missing, "
                f"{diff[1][0]} unexpected"
            )
    return problems, doubled
