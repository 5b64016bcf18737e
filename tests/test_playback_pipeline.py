"""Clean-zone pipeline parity tests (FIXTURES.md edge rows).

Each behavior cites the reference it mirrors; deliberate improvements
(sorted bags) are asserted as such.
"""

from __future__ import annotations

from spotify_pipeline_gcp_spark.operators.playback import (
    bag_artists,
    build_playback_hist,
    curate,
    parse_albums,
    parse_artists,
    parse_tracks,
    run_clean_zone,
)
from spotify_pipeline_gcp_spark.schemas import (
    ALBUMS_COLUMNS,
    ARTISTS_COLUMNS,
    PLAYBACK_HIST_COLUMNS,
    PLAYBACK_DOC,
)


def test_parse_albums_contract_and_year_padding(raw_playback):
    albums = parse_albums(raw_playback)
    assert albums.columns == ALBUMS_COLUMNS
    rows = {r.album_id: r for r in albums.collect()}
    # bare year padded to YYYY-12-31 (ref playback_pipeline.py:151-158)
    assert rows["alb_year"].album_release_date == "1999-12-31"
    assert rows["alb_year"].album_release_date_precision == "year"
    # full dates pass through
    assert rows["alb1"].album_release_date == "2020-05-17"
    # distinct: t3's album appears once despite three plays
    assert albums.count() == len(rows)


def test_parse_artists_distinct_and_nested_url(raw_playback):
    artists = parse_artists(raw_playback)
    assert artists.columns == ARTISTS_COLUMNS
    rows = {r.artist_id: r for r in artists.collect()}
    assert len(rows) == 3  # a1, a2, a3 — deduped across plays
    # doubly-nested external_urls.spotify (ref :121)
    assert rows["a2"].artist_spotify_url == "https://open.example.com/artist/a2"


def test_bag_artists_sorted_csv(raw_playback):
    bags = {
        (r.played_at, r.id): r for r in bag_artists(raw_playback).collect()
    }
    duet = bags[("2026-08-12T09:00:00.000Z", "t2")]
    # multi-artist bag joined ", "; sorted by name (deliberate
    # determinism improvement over ref collect_list order)
    assert duet.artist_names == 'Band B, Smith, John "JJ"'
    assert duet.artist_ids == "a3, a2"
    solo = bags[("2026-08-12T08:00:00.000Z", "t1")]
    assert solo.artist_names == "Solo Artist"
    # a play listed twice in one document (edge 3) is bagged once
    dup = bags[("2026-08-12T10:00:00.000Z", "t3")]
    assert (dup.artist_names, dup.artist_ids) == ("Solo Artist", "a1")


def test_playback_hist_grain_and_contract(raw_playback):
    hist = build_playback_hist(
        parse_tracks(raw_playback), bag_artists(raw_playback)
    )
    assert hist.columns == PLAYBACK_HIST_COLUMNS
    rows = hist.collect()
    # duplicate play collapsed (ref :309); same track at a different
    # time survives (grain = play event)
    keys = [(r.played_at, r.track_id) for r in rows]
    assert len(keys) == len(set(keys)) == 4
    assert sum(1 for r in rows if r.track_id == "t3") == 2
    # derived durations (ref :219-220)
    duet = next(r for r in rows if r.track_id == "t2")
    assert duet.duration_s == 123.46
    assert duet.duration_min == 2.06
    # global sort on played_at (ref :310)
    assert [r.played_at for r in rows] == sorted(r.played_at for r in rows)


def test_empty_day(spark, empty_playback_json_path):
    from spotify_pipeline_gcp_spark.sources.readers import read_json

    raw = read_json(spark, empty_playback_json_path, PLAYBACK_DOC)
    out = run_clean_zone(raw)
    assert out["albums"].count() == 0
    assert out["artists"].count() == 0
    assert out["playback_hist"].count() == 0


def test_curate_adds_audit_and_date_cast(raw_playback):
    hist = build_playback_hist(
        parse_tracks(raw_playback), bag_artists(raw_playback)
    )
    curated = curate(hist)
    # audit column first (ref playback_pipeline_curated.py:174-175)
    assert curated.columns[0] == "upload_timestamp"
    # album_release_date typed as date (ref :194)
    assert dict(curated.dtypes)["album_release_date"] == "date"
    # padded year became a real date
    padded = next(r for r in curated.collect() if r.track_id == "t1")
    assert str(padded.album_release_date) == "1999-12-31"
    # no-date table: guard stays static (albums has the column; artists not)
    artists_curated = curate(parse_artists(raw_playback))
    assert artists_curated.columns[0] == "upload_timestamp"
