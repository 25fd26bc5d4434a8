"""Scalar column-expression library — SURVEY §2.7 (F1-F18).

Every function here is a *pure column expression* (JVM-side, whole-stage
codegen eligible). No Python UDFs: at 100 TB these run inside the scan/project
stages at vectorized speed.

Reference citations are to /root/reference (behavioral spec only; the
implementations are Spark-native).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- F1/F2: performance-time parsing --------------------------------------
# Reference: src/extractor/service.py:447-471 — extract "h:mm(am|pm)" from free
# text, default "12:00am", then combine with the event date.

TIME_PATTERN = r"\b(\d{1,2}:\d{2}\s?(?:am|pm))\b"


def extract_performance_time(text_col: Column) -> Column:
    """First h:mm am/pm token in ``text_col`` (lowercased, trimmed), else the
    reference's default '12:00am'."""
    raw = F.regexp_extract(F.lower(text_col), TIME_PATTERN, 1)
    return F.coalesce(F.nullif(F.regexp_replace(raw, r"\s+", ""), F.lit("")), F.lit("12:00am"))


def performance_timestamp(date_col: Column, time_text_col: Column) -> Column:
    """Combine a yyyy-MM-dd date with an extracted h:mma time into a timestamp
    (session-TZ naive form; see performance_timestamp_utc for the reference's
    localized semantics)."""
    return F.to_timestamp(
        F.concat_ws(" ", date_col.cast("string"), extract_performance_time(time_text_col)),
        "yyyy-MM-dd h:mma",
    )


def performance_timestamp_utc(
    date_col: Column, time_text_col: Column, tz: str = "America/Chicago"
) -> Column:
    """The reference's exact F2 semantics: the venue's wall-clock time is
    America/Chicago local (pytz localize —
    /root/reference/src/extractor/service.py time handling); interpret the
    parsed naive timestamp in that zone and convert to UTC. DST is resolved
    by the JVM tzdb, so a summer 8pm is UTC-5 and a winter 8pm is UTC-6 —
    asserted in tests/test_pipeline.py."""
    return F.to_utc_timestamp(performance_timestamp(date_col, time_text_col), tz)


# --- F5/P9: staleness ------------------------------------------------------
# Reference: src/shared/db/models/models.py:107-114 — needs_geocoding.

def needs_geocoding(lat: Column, lon: Column, last_geocoded: Column, stale_days: int = 30) -> Column:
    return (
        lat.isNull()
        | lon.isNull()
        | last_geocoded.isNull()
        | (F.datediff(F.current_timestamp(), last_geocoded) > stale_days)
    )


# --- F7: URL join ----------------------------------------------------------
# Reference: src/shared/db/models/models.py:102-105; helpers.py:74.

def full_url(base_url: str, href: Column) -> Column:
    return F.when(href.isNull() | (href == ""), F.lit(None)).otherwise(
        F.concat(F.lit(base_url.rstrip("/")), F.lit("/"), F.regexp_replace(href, r"^/", ""))
    )


# --- F8: full-address assembly --------------------------------------------
# Reference: src/extractor/service.py:243 — "{street}, {city}, {state} {zip}".

def full_address(thoroughfare: Column, locality: Column, state: Column, postal: Column) -> Column:
    return F.concat_ws(", ", thoroughfare, locality, F.concat_ws(" ", state, postal))


# --- F13: TTL tiering ------------------------------------------------------
# Reference: src/shared/cache/redis_cache.py:65-96 — past 7d / today 1h /
# ≤7d ahead 12h / future 24h.

TTL_PAST, TTL_TODAY, TTL_WEEK, TTL_FUTURE = 604800, 3600, 43200, 86400


def ttl_seconds(event_date: Column, ref_date: Column) -> Column:
    days = F.datediff(event_date, ref_date)
    return (
        F.when(days < 0, F.lit(TTL_PAST))
        .when(days == 0, F.lit(TTL_TODAY))
        .when(days <= 7, F.lit(TTL_WEEK))
        .otherwise(F.lit(TTL_FUTURE))
    )


# --- F14: capacity bucketing ----------------------------------------------
# Reference: src/loader/service.py:163-169 — <100 intimate / <500 medium / large.

def capacity_bucket(capacity: Column, lo: int = 100, hi: int = 500) -> Column:
    return (
        F.when(capacity < lo, F.lit("intimate"))
        .when(capacity < hi, F.lit("medium"))
        .otherwise(F.lit("large"))
    )


# --- P13/P14: name/status flags -------------------------------------------
# Reference: src/extractor/service.py:246-253; src/loader/service.py:572-575.

def is_indoors(venue_name: Column) -> Column:
    return ~F.lower(venue_name).contains("outdoor")


def is_streaming(venue_name: Column) -> Column:
    return F.lower(venue_name).contains("streaming")


# --- F1-generalized: regexp extract with default ---------------------------

def regexp_extract_default(col: Column, pattern: str, group: int, default: str) -> Column:
    return F.coalesce(F.nullif(F.regexp_extract(col, pattern, group), F.lit("")), F.lit(default))


# --- F10: date-from-path extraction ---------------------------------------
# Reference: src/loader/app.py:23-54 — 3-pattern fallback over the S3 key.

def date_from_path(path: Column) -> Column:
    p1 = F.regexp_extract(path, r"raw_events/(\d{4})/(\d{2})/(\d{2})/", 0)
    p1 = F.when(p1 != "", F.concat_ws("-",
        F.regexp_extract(path, r"raw_events/(\d{4})/(\d{2})/(\d{2})/", 1),
        F.regexp_extract(path, r"raw_events/(\d{4})/(\d{2})/(\d{2})/", 2),
        F.regexp_extract(path, r"raw_events/(\d{4})/(\d{2})/(\d{2})/", 3)))
    p2 = F.nullif(F.regexp_extract(path, r"event_data_(\d{4}-\d{2}-\d{2})_", 1), F.lit(""))
    p3raw = F.nullif(F.regexp_extract(path, r"_(\d{8})_", 1), F.lit(""))
    p3 = F.when(p3raw.isNotNull(), F.concat_ws("-",
        F.substring(p3raw, 1, 4), F.substring(p3raw, 5, 2), F.substring(p3raw, 7, 2)))
    return F.to_date(F.coalesce(p1, p2, p3))


# --- F11: filename sanitize ------------------------------------------------
# Reference: src/shared/services/s3_service.py:24-31.

def sanitize_filename(col: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(col, r"\.\./", ""), r"[^a-zA-Z0-9\-_.]", "")


# --- F18: embedding text assembly ------------------------------------------
# Reference: src/loader/service.py:59-257 — deterministic text concat feeding
# the embedding UDF; correctness tests hash this text, not vectors.

def artist_embed_text(name: Column, description: Column, website: Column, genres: Column) -> Column:
    return F.concat_ws(
        " ",
        name,
        description,
        website,
        F.array_join(F.coalesce(genres, F.array()), " "),
    )


def venue_embed_text(name: Column, address: Column, description: Column,
                     indoors: Column, cap_bucket: Column, genres: Column) -> Column:
    return F.concat_ws(
        " ",
        name,
        address,
        description,
        F.when(indoors, F.lit("indoor venue")).otherwise(F.lit("outdoor venue")),
        F.concat(cap_bucket, F.lit("-sized venue")),
        F.array_join(F.coalesce(genres, F.array()), " "),
    )


def event_embed_text(artist_name: Column, venue_name: Column, description: Column) -> Column:
    return F.concat_ws(" ", artist_name, venue_name, description)


# --- event-time epoch helper -------------------------------------------------

def epoch_us(col: Column | str) -> Column:
    """Microseconds-since-epoch from any event-time column type.

    ``F.unix_micros`` rejects TIMESTAMP_NTZ (the type Spark 4 reads for naive
    parquet ``timestamp[us]``); casting to TIMESTAMP first accepts both NTZ
    and LTZ inputs and is a value identity under the UTC session TZ pinned by
    session.configure(). Use this instead of raw ``F.unix_micros`` at every
    event-time call site."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))
