"""Registered queries, timed with a noop sink and checked by DuckDB.

Each query's plan is drained with ``write.format("noop")``: every
operator runs, sinks and sorts included, and nothing is collected.
``count()`` would let Catalyst prune the sort and projections a real
sink pays for. The correctness check is a separate, untimed pass that
collects each result and compares it with the query's registry oracle
the way ``tools/selfcheck.py`` does: row count, column names and
dtypes, then an order-insensitive hash of the values, with columns
sorted by name and rows sorted by every column.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

from perfbench.procs import Timed
from perfbench.trace import Tracer
from spotify_pipeline_gcp_spark.schemas import TESTDATA_TABLES


def run_query(spark, registry, name: str, sf_dir: str, tr: Tracer) -> Timed:
    with Timed() as op, tr.span(f"query.{name}"):
        registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return op


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column and value normalization of ``tools/selfcheck.py``."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = pd.to_datetime(df[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            df[c] = s.astype("datetime64[ns]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), ignore_index=True)


def signature(df: pd.DataFrame) -> tuple[int, list[tuple[str, str]], str]:
    """(rows, [(column, dtype)], value hash) of a normalized frame."""
    n = normalize(df)
    digest = hashlib.sha256(
        pd.util.hash_pandas_object(n, index=False).values.tobytes()
    ).hexdigest()
    return len(n), [(c, str(n[c].dtype)) for c in n.columns], digest


def check(spark, registry, names: list[str], sf_dir: str) -> list[str]:
    """Compare every query with its oracle; one problem per failing query."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    problems = []
    for name in names:
        try:
            got = signature(registry[name].fn(spark, sf_dir).toPandas())
        except Exception as ex:  # noqa: BLE001 - a failing query fails its gate
            problems.append(f"{name}: spark error {type(ex).__name__}: {ex}")
            continue
        want = signature(con.execute(registry[name].oracle).df())
        for what, g, w in zip(("rows", "columns", "value hash"), got, want):
            if g != w:
                problems.append(f"{name}: {what} differ: spark={g} oracle={w}")
                break
    return problems
