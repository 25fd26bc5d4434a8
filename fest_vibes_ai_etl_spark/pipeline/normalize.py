"""Bronze EventDTO → silver star schema — the loader, set-oriented.

The reference loads row-at-a-time with per-row upserts and embedded lookups
(/root/reference/src/loader/service.py:904-1050). Here the same phase
structure (genres → artists → venues → events → bridges, §3.3) is five
set-oriented jobs over one validated DataFrame. Every dim build is a
distinct + dedup + deterministic surrogate key; every fact FK resolution
is an equi-join against a (broadcastable) dim, and the bridges derive their
keys from the natural keys they carry. Idempotent by construction: running
normalize twice over the same bronze produces identical silver.

Scale: bronze is partitioned by scrape date; dims are small (10²-10⁴ rows)
and broadcast into the fact build; only the fact table shuffles (on its
natural key for first-wins dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions import scalar
from ..operators.merge import first_wins, surrogate_key

DEFAULT_LAT, DEFAULT_LON = 29.9511, -90.0715  # reference configs.py:38-41


def validate_events(bronze: DataFrame) -> DataFrame:
    """P8 validity filter (/root/reference/src/loader/service.py:808-834):
    drop rows missing artist name, venue name, or event date."""
    ok = (
        F.col("artist_data.name").isNotNull()
        & (F.trim(F.col("artist_data.name")) != "")
        & F.col("venue_data.name").isNotNull()
        & (F.trim(F.col("venue_data.name")) != "")
        & F.col("event_data.event_date").isNotNull()
        & (F.trim(F.col("event_data.event_date")) != "")
    )
    return bronze.filter(ok)


def quarantine_events(bronze: DataFrame) -> DataFrame:
    """The complement of validate_events — routed to a quarantine sink
    instead of failing the batch (replaces the reference's batch-skip
    tolerance, /root/reference/src/loader/service.py:1101-1105)."""
    valid = validate_events(bronze)
    return bronze.subtract(valid)


def build_genre_dim(bronze: DataFrame) -> DataFrame:
    """A1+J1 (/root/reference/src/loader/service.py:836-860): global distinct
    over event + artist genre arrays, deterministic surrogate key."""
    names = (
        bronze.select(F.explode_outer("event_data.genres").alias("name"))
        .unionByName(bronze.select(F.explode_outer("artist_data.genres").alias("name")))
        .filter(F.col("name").isNotNull() & (F.trim(F.col("name")) != ""))
        .select(F.trim("name").alias("name"))
        .distinct()
    )
    return names.select(
        surrogate_key(F.col("name")).alias("genre_id"),
        "name",
        F.lit(None).cast("string").alias("description"),
    )


def build_artist_dim(bronze: DataFrame) -> DataFrame:
    """J2 (/root/reference/src/loader/service.py:324-422): one row per artist
    name; among a batch the latest scrape wins per column via first_wins on
    (name) ordered by scrape_time DESC. Also creates stub rows for related
    artists that only appear as edges (J6, service.py:969-1003)."""
    base = bronze.select(
        F.trim(F.col("artist_data.name")).alias("name"),
        F.col("artist_data.wwoz_artist_href").alias("wwoz_artist_href"),
        F.col("artist_data.description").alias("description"),
        F.col("artist_data.website").alias("website"),
        F.col("scrape_time").alias("scrape_time"),
    )
    stubs = (
        bronze.select(F.explode_outer("event_data.related_artists").alias("ra"))
        .select(
            F.trim(F.col("ra.name")).alias("name"),
            F.col("ra.wwoz_artist_href").alias("wwoz_artist_href"),
            F.lit(None).cast("string").alias("description"),
            F.lit(None).cast("string").alias("website"),
            F.lit(None).cast("timestamp").alias("scrape_time"),
        )
        .filter(F.col("name").isNotNull() & (F.col("name") != ""))
    )
    all_rows = base.unionByName(stubs)
    # Real rows (non-null scrape_time) outrank stubs; then latest scrape wins.
    deduped = first_wins(
        all_rows.filter(F.col("name").isNotNull() & (F.col("name") != "")),
        keys=["name"],
        order_cols=[F.col("scrape_time").desc_nulls_last(), F.col("wwoz_artist_href").asc_nulls_last()],
    )
    return deduped.select(
        surrogate_key(F.col("name")).alias("artist_id"),
        "name",
        "wwoz_artist_href",
        "description",
        "website",
        "scrape_time",
    )


def build_venue_dim(bronze: DataFrame) -> DataFrame:
    """J3 (/root/reference/src/loader/service.py:514-700): identity is
    (name, full_address); full_address assembled F8-style when absent;
    name-derived flags P14; default geocode coords as the enrichment
    fallback (U4 stub — the live geocoder is operators-level enrichment)."""
    v = bronze.select(
        F.trim(F.col("venue_data.name")).alias("name"),
        F.col("venue_data.thoroughfare").alias("thoroughfare"),
        F.col("venue_data.phone_number").alias("phone_number"),
        F.coalesce(F.col("venue_data.locality"), F.lit("New Orleans")).alias("locality"),
        F.col("venue_data.state").alias("state"),
        F.col("venue_data.postal_code").alias("postal_code"),
        F.coalesce(
            F.nullif(F.col("venue_data.full_address"), F.lit("")),
            scalar.full_address(
                F.col("venue_data.thoroughfare"),
                F.coalesce(F.col("venue_data.locality"), F.lit("New Orleans")),
                F.col("venue_data.state"),
                F.col("venue_data.postal_code"),
            ),
        ).alias("full_address"),
        F.col("venue_data.wwoz_venue_href").alias("wwoz_venue_href"),
        F.col("venue_data.website").alias("website"),
        F.coalesce(F.col("venue_data.is_active"), F.lit(True)).alias("is_active"),
        F.col("scrape_time").alias("scrape_time"),
    ).filter(F.col("name").isNotNull() & (F.col("name") != ""))
    deduped = first_wins(
        v, keys=["name", "full_address"], order_cols=[F.col("scrape_time").desc_nulls_last()]
    ).drop("scrape_time")
    return deduped.select(
        surrogate_key(F.col("name"), F.col("full_address")).alias("venue_id"),
        "*",
        scalar.is_indoors(F.col("name")).alias("is_indoors"),
        scalar.is_streaming(F.col("name")).alias("is_streaming"),
        F.lit(DEFAULT_LAT).alias("latitude"),
        F.lit(DEFAULT_LON).alias("longitude"),
        F.lit(None).cast("timestamp").alias("last_geocoded"),
    )


def build_event_fact(bronze: DataFrame, artist_dim: DataFrame, venue_dim: DataFrame) -> DataFrame:
    """J4 (/root/reference/src/loader/service.py:702-806): identity is
    wwoz_event_href (first-wins on latest scrape); FKs resolved by equi-join
    on the dims' natural keys; denormalized artist/venue names kept
    (reference models.py:216-217)."""
    ev = bronze.select(
        F.col("event_data.wwoz_event_href").alias("wwoz_event_href"),
        F.col("event_data.description").alias("description"),
        F.trim(F.col("artist_data.name")).alias("artist_name"),
        F.trim(F.col("venue_data.name")).alias("venue_name"),
        F.col("performance_time").alias("performance_time"),
        F.to_date(F.col("event_data.event_date")).alias("event_date"),
        F.col("scrape_time").alias("scrape_time"),
    )
    deduped = first_wins(
        ev.filter(F.col("wwoz_event_href").isNotNull()),
        keys=["wwoz_event_href"],
        order_cols=[F.col("scrape_time").desc_nulls_last(), F.col("performance_time").asc_nulls_last()],
    )
    a = broadcast(artist_dim.select("artist_id", F.col("name").alias("artist_name")))
    v = broadcast(
        venue_dim.select(
            "venue_id",
            F.col("name").alias("venue_name"),
            "is_indoors",
            "is_streaming",
        )
    )
    return (
        deduped.join(a, "artist_name", "left")
        .join(v, "venue_name", "left")
        .select(
            surrogate_key(F.col("wwoz_event_href")).alias("event_id"),
            "wwoz_event_href",
            "description",
            "artist_id",
            "venue_id",
            "artist_name",
            "venue_name",
            "performance_time",
            "event_date",
            "scrape_time",
            "is_indoors",
            "is_streaming",
        )
    )


def build_bridges(bronze: DataFrame, event_fact: DataFrame) -> dict[str, DataFrame]:
    """J5/J6 bridge tables, recomputed set-oriented from the arrays
    (replace-associations semantics — see operators/merge.py).

    ``bronze`` is the validated bronze the dims and the fact were built
    from, so every trimmed, non-empty name or non-null href a bridge reads
    has its dim or fact row, and every key is ``surrogate_key`` of that
    natural key: the bridges key their rows directly. A join back to a dim
    or to the fact would re-derive that dim's dedup, and the venue
    geocoding behind the fact, in every plan that reads a bridge."""
    genre_name = F.trim("genre_name")
    artist_genres = (
        bronze.select(
            F.trim(F.col("artist_data.name")).alias("artist_name"),
            F.explode_outer("artist_data.genres").alias("genre_name"),
        )
        .filter(F.col("genre_name").isNotNull() & (genre_name != ""))
        .select(
            surrogate_key(F.col("artist_name")).alias("artist_id"),
            surrogate_key(genre_name).alias("genre_id"),
        )
        .distinct()
    )
    event_genres = (
        bronze.select(
            F.col("event_data.wwoz_event_href").alias("wwoz_event_href"),
            F.explode_outer(
                F.when(
                    F.size(F.coalesce(F.col("event_data.genres"), F.array())) > 0,
                    F.col("event_data.genres"),
                ).otherwise(F.col("artist_data.genres"))  # P5 genre propagation
            ).alias("genre_name"),
        )
        .filter(
            F.col("wwoz_event_href").isNotNull()
            & F.col("genre_name").isNotNull()
            & (genre_name != "")
        )
        .select(
            surrogate_key(F.col("wwoz_event_href")).alias("event_id"),
            surrogate_key(genre_name).alias("genre_id"),
        )
        .distinct()
    )
    venue_artists = (
        event_fact.select("venue_id", "artist_id")
        .filter(F.col("venue_id").isNotNull() & F.col("artist_id").isNotNull())
        .distinct()
    )
    artist_relations = (
        bronze.select(
            F.trim(F.col("artist_data.name")).alias("artist_name"),
            F.explode_outer("event_data.related_artists").alias("ra"),
        )
        .select("artist_name", F.trim(F.col("ra.name")).alias("related_name"))
        .filter(
            F.col("related_name").isNotNull()
            & (F.col("related_name") != "")
            & (F.col("related_name") != F.col("artist_name"))  # SO2 self-removal
        )
        .select(
            surrogate_key(F.col("artist_name")).alias("artist_id"),
            surrogate_key(F.col("related_name")).alias("related_artist_id"),
        )
        .distinct()
    )
    return {
        "artist_genres": artist_genres,
        "event_genres": event_genres,
        "venue_artists": venue_artists,
        "artist_relations": artist_relations,
    }


def normalize(bronze: DataFrame) -> dict[str, DataFrame]:
    """Full bronze → silver build (phase order per reference §3.3:
    dims → fact → bridges; no locking concerns, just dataflow order)."""
    valid = validate_events(bronze)
    genres = build_genre_dim(valid)
    artists = build_artist_dim(valid)
    venues = build_venue_dim(valid)
    events = build_event_fact(valid, artists, venues)
    bridges = build_bridges(valid, events)
    return {
        "genres": genres,
        "artists": artists,
        "venues": venues,
        "events": events,
        **bridges,
    }
