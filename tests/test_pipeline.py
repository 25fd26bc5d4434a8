"""EventDTO pipeline semantics — the reference behaviors FIXTURES.md §A pins
down: P8 validation, first-wins dedup, COALESCE upserts, genre propagation,
related-artist resolution, TTL tiers, gold document shape."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fest_vibes_ai_etl_spark.functions import scalar
from fest_vibes_ai_etl_spark.pipeline import gold, normalize
from fest_vibes_ai_etl_spark.pipeline.fixtures import bronze_fixture


@pytest.fixture(scope="module")
def silver(spark):
    return normalize.normalize(bronze_fixture(spark))


def test_validation_filters_bad_rows(spark):
    bronze = bronze_fixture(spark)
    assert bronze.count() == 7
    assert normalize.validate_events(bronze).count() == 5
    assert normalize.quarantine_events(bronze).count() == 2


def test_genre_dim(silver):
    names = {r.name for r in silver["genres"].collect()}
    assert names == {"Jazz", "Blues", "Soul", "Funk", "Brass"}
    ids = [r.genre_id for r in silver["genres"].collect()]
    assert len(ids) == len(set(ids))


def test_artist_dim_first_wins_and_stubs(silver):
    artists = {r.name: r for r in silver["artists"].collect()}
    # 4 real + 0 stubs (Kermit appears both as artist and related — resolved once)
    assert set(artists) == {
        "Ellis Marsalis Quartet", "Kermit Ruffins", "Galactic", "Rebirth Brass Band"
    }
    # real row outranks stub: Kermit keeps his real href
    assert artists["Kermit Ruffins"].wwoz_artist_href == "/artists/101"


def test_event_fact_dedup_latest_scrape(silver):
    ev = {r.wwoz_event_href: r for r in silver["events"].collect()}
    assert len(ev) == 4  # 456 deduped, 900/901 quarantined upstream
    # duplicate /events/456: the later scrape (18:00) wins → updated description
    assert ev["/events/456"].description == "evening set (updated)"
    # FK resolution
    assert ev["/events/456"].artist_id is not None
    assert ev["/events/456"].venue_id is not None
    # venue name flags propagated (Tipitina's Outdoor Stage → not indoors)
    assert ev["/events/458"].is_indoors is False
    assert ev["/events/456"].is_indoors is True


def test_bridges(silver):
    g = {r.genre_id: r.name for r in silver["genres"].collect()}
    a = {r.artist_id: r.name for r in silver["artists"].collect()}
    ag = {(a[r.artist_id], g[r.genre_id]) for r in silver["artist_genres"].collect()}
    # latest scrape of Ellis carries Soul
    assert ("Ellis Marsalis Quartet", "Soul") in ag
    rel = {
        (a[r.artist_id], a[r.related_artist_id])
        for r in silver["artist_relations"].collect()
    }
    assert rel == {("Ellis Marsalis Quartet", "Kermit Ruffins")}


def _bridges_by_dim_join(valid, silver):
    """Reference bridges: every key resolved by an equi-join against its dim
    or the fact, instead of derived from the natural key."""
    from pyspark.sql.functions import broadcast

    g = broadcast(silver["genres"].select("genre_id", F.col("name").alias("genre_name")))
    a = broadcast(silver["artists"].select("artist_id", F.col("name").alias("artist_name")))
    rel = broadcast(
        silver["artists"].select(
            F.col("artist_id").alias("related_artist_id"), F.col("name").alias("related_name")
        )
    )
    artist_genres = (
        valid.select(
            F.trim(F.col("artist_data.name")).alias("artist_name"),
            F.explode_outer("artist_data.genres").alias("genre_name"),
        )
        .filter(F.col("genre_name").isNotNull())
        .select("artist_name", F.trim("genre_name").alias("genre_name"))
        .join(a, "artist_name")
        .join(g, "genre_name")
        .select("artist_id", "genre_id")
        .distinct()
    )
    event_genres = (
        valid.select(
            F.col("event_data.wwoz_event_href").alias("wwoz_event_href"),
            F.explode_outer(
                F.when(
                    F.size(F.coalesce(F.col("event_data.genres"), F.array())) > 0,
                    F.col("event_data.genres"),
                ).otherwise(F.col("artist_data.genres"))
            ).alias("genre_name"),
        )
        .filter(F.col("genre_name").isNotNull())
        .select("wwoz_event_href", F.trim("genre_name").alias("genre_name"))
        .join(silver["events"].select("event_id", "wwoz_event_href"), "wwoz_event_href")
        .join(g, "genre_name")
        .select("event_id", "genre_id")
        .distinct()
    )
    artist_relations = (
        valid.select(
            F.trim(F.col("artist_data.name")).alias("artist_name"),
            F.explode_outer("event_data.related_artists").alias("ra"),
        )
        .select("artist_name", F.trim(F.col("ra.name")).alias("related_name"))
        .filter(
            F.col("related_name").isNotNull()
            & (F.col("related_name") != "")
            & (F.col("related_name") != F.col("artist_name"))
        )
        .join(a, "artist_name")
        .join(rel, "related_name")
        .select("artist_id", "related_artist_id")
        .distinct()
    )
    return {
        "artist_genres": artist_genres,
        "event_genres": event_genres,
        "artist_relations": artist_relations,
    }


def test_bridges_match_dim_join_reference(spark):
    """Bridges key their rows from natural keys; they must equal bridges
    resolved by joining the dims and the fact, also for padded and blank
    names, blank genres, self-relations and a null event href."""
    import datetime as dt

    from fest_vibes_ai_etl_spark.pipeline.fixtures import bronze_rows
    from fest_vibes_ai_etl_spark.schemas import EVENT_DTO

    ts = dt.datetime(2025, 2, 28, 12, 0, 0)
    perf = dt.datetime(2025, 3, 1, 23, 0, 0)
    edge = [
        (
            (" Dr. John ", "d", [" Funk ", "  ", None], [], None, None),
            ("Snug Harbor", "626 Frenchmen St", None, "New Orleans", "LA", "70116",
             None, True, None, None, None),
            ("2025-03-01", "/events/700", " Dr. John ", None, None,
             [("  Kermit Ruffins ", None), ("   ", None), ("Dr. John", None),
              ("New Stub ", "/artists/999")],
             ["  ", "Zydeco"]),
            perf, ts,
        ),
        (
            ("Galactic", "d", ["Funk", " Soul"], [], None, None),
            ("Snug Harbor", "626 Frenchmen St", None, "New Orleans", "LA", "70116",
             None, True, None, None, None),
            ("2025-03-01", None, "Galactic", None, None, [], ["Jazz"]),
            perf, ts,
        ),
        (
            ("Kermit Ruffins", "d", [" Jazz", "Blues "], [], None, None),
            ("Maple Leaf Bar", "8316 Oak St", None, "New Orleans", "LA", "70118",
             None, True, None, None, None),
            ("2025-03-02", "/events/701", "Kermit Ruffins", None, None, [], None),
            perf, ts,
        ),
    ]
    bronze = spark.createDataFrame(bronze_rows() + edge, EVENT_DTO)
    silver = normalize.normalize(bronze)
    want = _bridges_by_dim_join(normalize.validate_events(bronze), silver)
    for name, ref in want.items():
        got = sorted(silver[name].collect())
        assert got == sorted(ref.collect()), name
        assert len(got) > 0, name


def test_gold_document_shape_and_order(silver):
    g = gold.events_for_dates(silver, ["2025-03-01"], ref_date="2025-03-01")
    rows = g.collect()
    assert len(rows) == 3
    # W1: ordered by performance_time (19:00 Galactic, 20:00 Ellis, 21:30 Kermit)
    assert [r.artist_data.name for r in rows] == [
        "Galactic", "Ellis Marsalis Quartet", "Kermit Ruffins"
    ]
    # same-day TTL tier
    assert all(r.ttl_seconds == scalar.TTL_TODAY for r in rows)
    ellis = rows[1]
    assert ellis.artist_data.genres == ["Blues", "Jazz", "Soul"]
    assert ellis.artist_data.related_artists == ["Kermit Ruffins"]
    assert ellis.venue_data.full_address == "626 Frenchmen St, New Orleans, LA 70116"
    # P5 propagation: event 457 had no genres → inherits artist genres
    kermit = rows[2]
    assert kermit.event_data.genres == ["Jazz"]


def test_cache_payload_json_round_trips(silver):
    payload = gold.to_cache_payload(
        gold.events_for_dates(silver, ["2025-03-01"], ref_date="2025-03-02")
    )
    rows = payload.collect()
    assert {r.cache_key for r in rows} == {"events:2025-03-01"}
    assert all(r.ttl_seconds == scalar.TTL_PAST for r in rows)  # date < ref → past tier
    doc = json.loads(rows[0].payload)
    assert set(doc) >= {"artist_data", "venue_data", "event_data", "performance_time"}


def test_normalize_idempotent(spark, silver):
    """Running normalize twice over the same bronze ≡ once (the reference's
    unique-index guarantee, set-oriented)."""
    again = normalize.normalize(bronze_fixture(spark))
    for name in ["genres", "artists", "venues", "events", "artist_genres"]:
        a = sorted(str(r) for r in silver[name].collect())
        b = sorted(str(r) for r in again[name].collect())
        assert a == b, name


def test_ttl_tiers(spark):
    df = spark.createDataFrame(
        [("2025-01-01",), ("2025-03-01",), ("2025-03-05",), ("2025-06-01",)],
        "d string",
    ).select(
        scalar.ttl_seconds(F.col("d").cast("date"), F.lit("2025-03-01").cast("date")).alias("t")
    )
    assert [r.t for r in df.collect()] == [
        scalar.TTL_PAST, scalar.TTL_TODAY, scalar.TTL_WEEK, scalar.TTL_FUTURE
    ]


def test_performance_time_parsing(spark):
    """F1/F2 time extraction (/root/reference/tests/simple_tests.py:101-117):
    '8:00pm' → 20:00, whitespace tolerated, junk → 12:00am default."""
    df = spark.createDataFrame(
        [("Doors at 8:00pm tonight",), ("  9:30am  ",), ("no time here",)], "txt string"
    ).select(
        scalar.performance_timestamp(F.lit("2025-03-01"), F.col("txt")).alias("ts")
    )
    out = [r.ts.strftime("%H:%M") for r in df.collect()]
    assert out == ["20:00", "09:30", "00:00"]


def test_performance_timestamp_utc_dst_aware(spark):
    import datetime as dt

    from fest_vibes_ai_etl_spark.functions import scalar

    df = spark.createDataFrame(
        [("2025-07-04", "8:00pm"), ("2025-01-04", "8:00pm")], "d string, t string"
    )
    out = {
        r.d: r.utc
        for r in df.select(
            "d", scalar.performance_timestamp_utc(F.col("d"), F.col("t")).alias("utc")
        ).collect()
    }
    # Chicago is UTC-5 in July (CDT), UTC-6 in January (CST)
    assert out["2025-07-04"] == dt.datetime(2025, 7, 5, 1, 0)
    assert out["2025-01-04"] == dt.datetime(2025, 1, 5, 2, 0)
