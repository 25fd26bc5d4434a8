"""The full pipeline as ONE Spark application.

Reference §3.1: EventBridge cron → Step Function → per-date Lambda fan-out
(param_generator → extractor → loader → cache_manager), with S3/Postgres/
Redis hops between every stage. Here the whole graph is one job DAG over a
date-partitioned DataFrame:

    bronze (EventDTO JSON/parquet, partitioned by scrape date)
      → validate + quarantine              (P8)
      → normalize to silver star schema    (dims → fact → bridges)
      → enrich: geocode venues, embed artists/venues/events  (U1-U4)
      → gold: per-date event documents + TTL  (§3.4 query, over the
        geocoded but un-embedded silver: the document has no embedding)
      → cache payload export               (S10)

The per-date fan-out disappears: dates are partitions of one DataFrame, and
Spark's scheduler replaces MaxConcurrency=5. Writes are partitioned by date
so downstream consumers prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalar
from ..operators.enrich import embed_column, geocode_with_cache
from ..session import configure
from . import gold, normalize


def run_pipeline(
    spark: SparkSession,
    bronze: DataFrame,
    dates: list[str],
    ref_date: str | None = None,
    geocode_cache: DataFrame | None = None,
    with_embeddings: bool = True,
) -> dict[str, DataFrame]:
    """Bronze → silver → gold for the given dates. Returns every layer
    (callers persist with ``df.write.partitionBy(...)`` as needed).

    Gold reads the un-embedded silver: the cache document carries latitude
    and longitude but no embedding, and ``mapInPandas`` is opaque to column
    pruning, so a gold plan over embedded silver would re-run every
    embedding UDF only to drop its output. Embeddings are a silver-only
    output: the returned ``artists``, ``venues`` and ``events`` layers carry
    them when ``with_embeddings`` is set."""
    # Externally-created sessions (the correctness driver's, a user's) need
    # the package shipped to executor workers before any UDF stage runs.
    configure(spark)
    silver = normalize.normalize(bronze)
    quarantined = normalize.quarantine_events(bronze)

    silver["venues"] = geocode_with_cache(silver["venues"], cache=geocode_cache)
    unembedded = dict(silver)

    if with_embeddings:
        genre_lists = (
            silver["artist_genres"]
            .join(silver["genres"].select("genre_id", F.col("name").alias("g")), "genre_id")
            .groupBy("artist_id")
            .agg(F.sort_array(F.collect_list("g")).alias("genres"))
        )
        artists = silver["artists"].join(genre_lists, "artist_id", "left")
        artists = artists.withColumn(
            "embed_text",
            scalar.artist_embed_text(
                F.col("name"), F.col("description"), F.col("website"), F.col("genres")
            ),
        )
        silver["artists"] = embed_column(artists, "embed_text", "description_embedding").drop(
            "genres", "embed_text"
        )

        venues = silver["venues"].withColumn(
            "embed_text",
            scalar.venue_embed_text(
                F.col("name"),
                F.col("full_address"),
                F.lit(None).cast("string"),
                F.col("is_indoors"),
                scalar.capacity_bucket(F.lit(250)),  # no capacity data → medium tier
                F.lit(None).cast("array<string>"),
            ),
        )
        silver["venues"] = embed_column(venues, "embed_text", "venue_info_embedding").drop(
            "embed_text"
        )

        events = silver["events"].withColumn(
            "embed_text",
            scalar.event_embed_text(
                F.col("artist_name"), F.col("venue_name"), F.col("description")
            ),
        )
        silver["events"] = embed_column(events, "embed_text", "event_text_embedding").drop(
            "embed_text"
        )

    gold_all = gold.to_cache_payload(
        gold.events_for_dates(unembedded, dates, ref_date=ref_date)
    )
    return {**silver, "quarantine": quarantined, "cache_payload": gold_all}


def persist_silver_versioned(
    spark: SparkSession,
    layers: dict[str, DataFrame],
    root: str,
    txn: tuple[str, int] | None = None,
) -> int:
    """Land the silver EVENTS fact in a CAS-committed
    ``VersionedParquetTable`` partitioned by event_date — the multi-writer
    upgrade of the plain partition-overwrite write: concurrent backfills
    over different date ranges rebase instead of clobbering, a scheduler
    that double-fires a date is collapsed by ``txn``, and downstream
    consumers get snapshot isolation + time travel + CDC over the fact.
    Dims stay on the merge_coalesce path (no natural partition column;
    their writes are tiny). Returns the committed version."""
    from ..sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(f"{root}/events", "event_date")
    return t.merge(
        spark,
        layers["events"],
        keys=["wwoz_event_href"],
        keep_if_null_cols=["description"],  # J4 semantics
        txn=txn,
    )
