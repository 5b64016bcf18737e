"""Seeded input generators for the benchmark.

Everything the benchmark feeds the package is made here from
``--seed``; nothing is downloaded and nothing outside the work
directory is read. Three kinds of input:

- nested playback documents (FIXTURES.md §F1) for the landing zone,
  one JSON document per day, with the §F1 edge rows planted in every
  day and a Zipf-skewed track popularity;
- a pre-seeded warehouse history: one parquet file per table per day,
  the layout a year of daily appends leaves behind;
- the star schema of TESTDATA.md (region ... embeddings) that the
  registered queries read, in the shapes of those tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PLAYBACK_FILE = "playback_hist.json"

# Playback catalog sizes. Large enough that a year of ~50-play days
# keeps adding new tracks/albums, small enough that the popular head
# repeats every day (Zipf exponent below).
N_ARTISTS = 600
N_ALBUMS = 900
N_TRACKS = 4000
ZIPF_S = 1.1

_NAME_WORDS = (
    "blue night river echo golden static neon velvet paper summer "
    "ghost ocean silver wild quiet electric broken northern lost city"
).split()


def _words(rng: np.random.Generator, k: int) -> str:
    return " ".join(rng.choice(_NAME_WORDS, size=k)).title()


class Catalog:
    """Tracks, albums and artists drawn once per seed.

    Edge cases from FIXTURES.md §F1 are fixed properties of the
    catalog, so every day that plays those tracks carries them:
    ~12% of albums have a bare-year release date, ~30% of tracks have
    2-3 artists, and every 25th artist name holds a comma and a quote.
    """

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 1])
        self.artists = []
        for i in range(N_ARTISTS):
            aid = f"ar{seed % 1000:03d}{i:05d}"
            name = _words(rng, int(rng.integers(1, 4)))
            if i % 25 == 0:
                name = f'{name}, The "{_words(rng, 1)}" Band'
            self.artists.append(
                {
                    "external_urls": {"spotify": f"https://open.example.com/artist/{aid}"},
                    "href": f"https://api.example.com/v1/artists/{aid}",
                    "id": aid,
                    "name": name,
                    "uri": f"spotify:artist:{aid}",
                }
            )
        self.albums = []
        for i in range(N_ALBUMS):
            alid = f"al{seed % 1000:03d}{i:05d}"
            year = int(rng.integers(1965, 2026))
            if rng.random() < 0.12:
                release, precision = str(year), "year"
            else:
                release = (
                    dt.date(year, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
                ).isoformat()
                precision = "day"
            lead = self.artists[int(rng.integers(0, N_ARTISTS))]
            self.albums.append(
                {
                    "album_type": str(rng.choice(["album", "single", "compilation"])),
                    "href": f"https://api.example.com/v1/albums/{alid}",
                    "id": alid,
                    "name": _words(rng, int(rng.integers(1, 4))),
                    "release_date": release,
                    "release_date_precision": precision,
                    "total_tracks": int(rng.integers(1, 25)),
                    "type": "album",
                    "uri": f"spotify:album:{alid}",
                    "artists": [{"id": lead["id"], "name": lead["name"]}],
                }
            )
        self.tracks = []
        for i in range(N_TRACKS):
            tid = f"tr{seed % 1000:03d}{i:06d}"
            n_art = 1 if rng.random() < 0.7 else int(rng.integers(2, 4))
            arts = [
                self.artists[int(j)]
                for j in rng.choice(N_ARTISTS, size=n_art, replace=False)
            ]
            self.tracks.append(
                {
                    "album": self.albums[int(rng.integers(0, N_ALBUMS))],
                    "artists": arts,
                    "duration_ms": int(rng.integers(90_000, 420_000)),
                    "href": f"https://api.example.com/v1/tracks/{tid}",
                    "id": tid,
                    "name": _words(rng, int(rng.integers(1, 5))),
                    "popularity": int(rng.integers(0, 101)),
                    "type": "track",
                    "uri": f"spotify:track:{tid}",
                }
            )
        ranks = np.arange(1, N_TRACKS + 1, dtype=np.float64)
        p = ranks**-ZIPF_S
        self.track_p = p / p.sum()
        self.multi_artist = [i for i, t in enumerate(self.tracks) if len(t["artists"]) > 1]
        self.bare_year = [
            i for i, t in enumerate(self.tracks) if t["album"]["release_date_precision"] == "year"
        ]
        self.quoted = [
            i for i, t in enumerate(self.tracks)
            if any('"' in a["name"] for a in t["artists"])
        ]


def playback_doc(cat: Catalog, seed: int, day: dt.date, n_plays: int) -> dict:
    """One day's recently-played response with the §F1 edge rows.

    ``n_plays`` distinct play events with unique ``played_at`` (the
    warehouse key), plus one exact duplicate item. Each day holds a
    bare-year album, a multi-artist track, an artist name with a comma
    and a quote, and one track played at two timestamps.
    """
    rng = np.random.default_rng([seed, day.toordinal()])
    picks = list(rng.choice(N_TRACKS, size=n_plays, p=cat.track_p))
    picks[0] = cat.bare_year[int(rng.integers(0, len(cat.bare_year)))]
    picks[1] = cat.multi_artist[int(rng.integers(0, len(cat.multi_artist)))]
    picks[2] = cat.quoted[int(rng.integers(0, len(cat.quoted)))]
    picks[3] = picks[1]  # same track at two timestamps
    ms = np.sort(rng.choice(86_400_000, size=n_plays, replace=False))
    start = dt.datetime(day.year, day.month, day.day)
    items = []
    for off, t in zip(ms, picks):
        ts = start + dt.timedelta(milliseconds=int(off))
        items.append(
            {
                "played_at": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z",
                "track": cat.tracks[int(t)],
            }
        )
    items.insert(int(rng.integers(0, len(items))), items[int(rng.integers(0, len(items)))])
    return {"items": items}


def landing_file(root: str, day: dt.date) -> str:
    """Landing-zone layout of ``sinks.landing.landing_path``."""
    return os.path.join(root, f"{day.year}", f"{day.month:02d}", f"{day.day:02d}", PLAYBACK_FILE)


def write_landing(
    root: str, cat: Catalog, seed: int, days: list[dt.date], plays_per_day: int
) -> None:
    """Write one JSON document per day, as the landing zone holds them."""
    for day in days:
        _write_doc(landing_file(root, day), playback_doc(cat, seed, day, plays_per_day))


def _write_doc(path: str, doc: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(json.dumps(doc))  # json.dump would take the pure-Python encoder


# --- warehouse history ------------------------------------------------
# Arrow types of the warehouse tables as the daily job writes them:
# clean-zone CSV read back with schema inference, curated with
# ``operators.playback.curate``, timestamps as Spark's default INT96.
# ``medallion.check_history_schema`` compares a history file with a
# Spark-written one so a drift fails loudly.

WAREHOUSE_KEYS = {
    "playback_hist": "played_at",
    "albums": "album_id",
    "artists": "artist_id",
}
_TS = pa.timestamp("us", tz="UTC")
_CURATED = {
    "playback_hist": [
        ("played_at", _TS),
        ("duration_ms", pa.int32()),
        ("duration_s", pa.float64()),
        ("duration_min", pa.float64()),
        ("track_href", pa.string()),
        ("track_id", pa.string()),
        ("track_name", pa.string()),
        ("track_uri", pa.string()),
        ("artist_names", pa.string()),
        ("artist_ids", pa.string()),
        ("popularity", pa.int32()),
        ("album_id", pa.string()),
        ("album_name", pa.string()),
        ("album_release_date", pa.date32()),
        ("album_uri", pa.string()),
    ],
    "albums": [
        ("album_type", pa.string()),
        ("album_href", pa.string()),
        ("album_id", pa.string()),
        ("album_name", pa.string()),
        ("album_release_date", pa.date32()),
        ("album_release_date_precision", pa.string()),
        ("total_tracks", pa.int32()),
        ("type", pa.string()),
        ("album_uri", pa.string()),
    ],
    "artists": [
        ("artist_spotify_url", pa.string()),
        ("artist_href", pa.string()),
        ("artist_id", pa.string()),
        ("artist_name", pa.string()),
        ("artist_uri", pa.string()),
    ],
}
# The delta append's anti-join puts the key column first, then the
# curated columns: upload_timestamp and the clean-zone contract.
WAREHOUSE_SCHEMAS = {
    t: pa.schema(
        [f for f in cols if f[0] == WAREHOUSE_KEYS[t]]
        + [("upload_timestamp", _TS)]
        + [f for f in cols if f[0] != WAREHOUSE_KEYS[t]]
    )
    for t, cols in _CURATED.items()
}


def _padded_date(release: str) -> dt.date:
    return dt.date.fromisoformat(f"{release}-12-31" if len(release) == 4 else release)


def _history_rows(doc: dict, upload: dt.datetime, seen: dict[str, set]) -> dict[str, list]:
    """Flatten one day the way the pipeline does, keeping only keys
    the warehouse does not hold yet (the delta-append contract)."""
    out = {t: [] for t in WAREHOUSE_SCHEMAS}
    plays: dict[tuple, dict] = {}
    for it in doc["items"]:
        plays[(it["played_at"], it["track"]["id"])] = it
    for (played_at, _), it in sorted(plays.items()):
        tr, al = it["track"], it["track"]["album"]
        ts = dt.datetime.fromisoformat(played_at.replace("Z", "+00:00"))
        if played_at not in seen["playback_hist"]:
            seen["playback_hist"].add(played_at)
            bag = sorted((a["name"], a["id"], a["uri"]) for a in tr["artists"])
            out["playback_hist"].append(
                {
                    "upload_timestamp": upload,
                    "played_at": ts,
                    "duration_ms": tr["duration_ms"],
                    "duration_s": round(tr["duration_ms"] / 1000, 2),
                    "duration_min": round(tr["duration_ms"] / 60000, 2),
                    "track_href": tr["href"],
                    "track_id": tr["id"],
                    "track_name": tr["name"],
                    "track_uri": tr["uri"],
                    "artist_names": ", ".join(b[0] for b in bag),
                    "artist_ids": ", ".join(b[1] for b in bag),
                    "popularity": tr["popularity"],
                    "album_id": al["id"],
                    "album_name": al["name"],
                    "album_release_date": _padded_date(al["release_date"]),
                    "album_uri": al["uri"],
                }
            )
        if al["id"] not in seen["albums"]:
            seen["albums"].add(al["id"])
            out["albums"].append(
                {
                    "upload_timestamp": upload,
                    "album_type": al["album_type"],
                    "album_href": al["href"],
                    "album_id": al["id"],
                    "album_name": al["name"],
                    "album_release_date": _padded_date(al["release_date"]),
                    "album_release_date_precision": al["release_date_precision"],
                    "total_tracks": al["total_tracks"],
                    "type": al["type"],
                    "album_uri": al["uri"],
                }
            )
        for a in tr["artists"]:
            if a["id"] not in seen["artists"]:
                seen["artists"].add(a["id"])
                out["artists"].append(
                    {
                        "upload_timestamp": upload,
                        "artist_spotify_url": a["external_urls"]["spotify"],
                        "artist_href": a["href"],
                        "artist_id": a["id"],
                        "artist_name": a["name"],
                        "artist_uri": a["uri"],
                    }
                )
    return out


def write_history(
    landing_root: str,
    root: str,
    cat: Catalog,
    seed: int,
    days: list[dt.date],
    plays_per_day: int,
) -> dict[str, int]:
    """Pre-seed ``root/<table>/`` with one parquet file per table per
    day, as a year of daily ``ParquetWarehouse.append`` calls leaves it
    (days that add no new dimension rows add no dimension file), and
    land the same days' documents under ``landing_root`` so the
    warehouse gate can flatten them. Returns rows written per table."""
    seen = {t: set() for t in WAREHOUSE_SCHEMAS}
    rows = {t: 0 for t in WAREHOUSE_SCHEMAS}
    for t in WAREHOUSE_SCHEMAS:
        os.makedirs(os.path.join(root, t), exist_ok=True)
    for day in days:
        upload = dt.datetime(day.year, day.month, day.day, 23, 0, tzinfo=dt.timezone.utc)
        doc = playback_doc(cat, seed, day, plays_per_day)
        _write_doc(landing_file(landing_root, day), doc)
        for table, recs in _history_rows(doc, upload, seen).items():
            if not recs:
                continue
            tbl = pa.Table.from_pylist(recs, schema=WAREHOUSE_SCHEMAS[table])
            pq.write_table(
                tbl,
                os.path.join(root, table, f"part-{day.isoformat()}-history.snappy.parquet"),
                use_deprecated_int96_timestamps=True,
            )
            rows[table] += len(recs)
    return rows


# --- star schema for the query mix -------------------------------------

_TEXT_VOCAB = (
    "a the data row column table key value part hash join merge scan sort "
    "group agg filter window order batch stream query line customer vector "
    "spark fast slow small big index shard token"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def write_star_schema(
    out_dir: str, seed: int, sf: float, tables: tuple[str, ...] | None = None
) -> dict[str, int]:
    """Write the ten TESTDATA.md tables at scale factor ``sf``.

    Shapes follow those tables: a TPC-H-like star schema
    (row counts proportional to ``sf``), an ``events`` stream over 30
    days with a JSON ``props`` column, ``documents`` from a small
    vocabulary with planted near-duplicates (prefix copies), and unit
    ``embeddings`` of dimension 64 with 10 labels. ``tables`` limits
    which are written. Returns row counts of those written.
    """
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_emb = max(200, int(50_000 * sf))
    epoch = np.datetime64("1995-01-01", "us")
    day_us = 86_400_000_000

    def ts_days(lo: int, hi: int, n: int) -> pa.Array:
        d = rng.integers(lo, hi, size=n)
        return pa.array(epoch + (d * day_us).astype("timedelta64[us]"), pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size=n), 2)

    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(range(n_part), pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["small", "red", "blue", "green", "large", "shiny"], n_part),
                        rng.choice(["ring", "widget", "bolt", "gear", "spring", "valve"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(range(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000.0, 500_000.0, n_ord),
                "o_orderdate": ts_days(0, 2404, n_ord),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": money(900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": ts_days(1, 2500, n_line),
            }
        ),
    }
    ev_us = np.sort(rng.integers(0, 30 * day_us, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
            "value": np.round(rng.exponential(30.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:
            base = texts[int(rng.integers(0, i))].split()
            keep = max(4, int(len(base) * rng.uniform(0.6, 0.95)))
            tail = rng.choice(_TEXT_VOCAB, size=int(rng.integers(0, 8)))
            texts.append(" ".join(base[:keep] + list(tail)))
        else:
            texts.append(" ".join(rng.choice(_TEXT_VOCAB, size=int(rng.integers(10, 90)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    written = {}
    for name, tbl in out.items():
        if tables is None or name in tables:
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
            written[name] = tbl.num_rows
    return written
