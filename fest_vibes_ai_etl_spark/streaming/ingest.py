"""Structured Streaming ingest — the incremental path (SURVEY §2.8).

The reference's daily batch (cron → per-date Lambda fan-out) maps to a
file-source stream over the bronze directory with idempotent foreachBatch
merges into silver: each micro-batch replays the loader's set-oriented
normalize, and merge idempotence (operators/merge.py) makes reprocessing
safe — the Spark-native equivalent of the reference's at-least-once
Step Function retries against ON CONFLICT upserts.

Also provides watermarked windowed aggregation over the events stream —
the streaming twin of the batch ``events_hourly_rollup`` plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..schemas import EVENT_DTO
from .state_store import start_stream


def read_bronze_stream(
    spark: SparkSession, bronze_dir: str, max_files: int = 8
) -> DataFrame:
    """File-source stream of EventDTO JSON with the explicit schema — new
    files (one per scrape date in deployment) become micro-batches."""
    return (
        spark.readStream.schema(EVENT_DTO)
        .option("maxFilesPerTrigger", max_files)
        .json(bronze_dir)
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "performance_time",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts with late-data handling: the watermark bounds
    state (at 100 TB/day of events, unbounded state is the first thing that
    kills a streaming job)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"), "n")
    )


def deduped_event_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_data.wwoz_event_href",),
    ts_col: str = "performance_time",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming first-wins dedup: one row per key within the watermark
    horizon (``dropDuplicatesWithinWatermark``) — the streaming twin of the
    batch ``window_first_wins_dedup`` plan (reference P12: crawl-order
    first-wins). The watermark bounds the dedup state store: keys older than
    the horizon are evicted, so state is O(keys-per-horizon), not O(stream) —
    the property that keeps this runnable forever at 100 TB/day. Duplicates
    arriving later than the watermark are NOT suppressed (they land in the
    idempotent silver MERGE, which absorbs them — defense in depth)."""
    keyed = events.withColumn("__dedup_key", F.col(key_cols[0]))
    for extra in key_cols[1:]:
        keyed = keyed.withColumn("__dedup_key", F.concat_ws("", "__dedup_key", F.col(extra)))
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__dedup_key"])
        .drop("__dedup_key")
    )


def enriched_event_stream(events: DataFrame, venue_dim: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch of the event stream broadcast-
    joins the (small, slowly-changing) venue dim — the streaming twin of the
    batch gold enrichment. The static side is re-resolved per micro-batch,
    so a dim refresh (overwritten parquet) is picked up without restarting
    the query; no watermark is needed because the static side never ages."""
    venues = F.broadcast(
        venue_dim.select(
            F.col("name").alias("__venue_name"),
            F.col("full_address").alias("venue_address"),
        )
    )
    return (
        events.withColumn("__vn", F.col("venue_data.name"))
        .join(venues, F.col("__vn") == F.col("__venue_name"), "left")
        .select(
            F.col("event_data.wwoz_event_href").alias("event_href"),
            F.col("artist_data.name").alias("artist_name"),
            F.col("__vn").alias("venue_name"),
            "venue_address",
            "performance_time",
        )
    )


def correlated_event_pairs(
    left: DataFrame,
    right: DataFrame,
    join_window: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: pair events from two live streams on venue
    within an event-time window (|t_L − t_R| ≤ ``join_window``) — the shape
    of click↔purchase / listing↔update correlation. BOTH sides carry a
    watermark and the join condition bounds event time on both sides, which
    is what lets Spark evict buffered state: without the time bound the
    buffers grow with the stream. State is O(events-per-window), the
    scale-safety property.

    ``how="leftOuter"`` additionally emits unmatched left rows with NULL
    right columns — but only once the watermark passes their join window
    (the row is provably unmatchable), and the emission happens in a LATER
    micro-batch than the watermark advance. A tail of unmatched rows
    therefore needs one more batch after end-of-data to surface
    (tests/test_streaming.py drives two availableNow runs over one
    checkpoint to prove it)."""
    l = left.select(
        F.col("event_data.wwoz_event_href").alias("l_href"),
        F.col("venue_data.name").alias("l_venue"),
        F.col("performance_time").alias("l_time"),
    ).withWatermark("l_time", watermark)
    r = right.select(
        F.col("event_data.wwoz_event_href").alias("r_href"),
        F.col("venue_data.name").alias("r_venue"),
        F.col("performance_time").alias("r_time"),
    ).withWatermark("r_time", watermark)
    return l.join(
        r,
        (F.col("l_venue") == F.col("r_venue"))
        & (F.col("l_href") < F.col("r_href"))
        & (F.col("r_time") >= F.col("l_time") - F.expr(f"INTERVAL {join_window}"))
        & (F.col("r_time") <= F.col("l_time") + F.expr(f"INTERVAL {join_window}")),
        how,
    )


def start_silver_maintenance(
    spark: SparkSession,
    bronze_dir: str,
    silver_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """foreachBatch loop: bronze micro-batch → normalize → MERGE into silver.

    The events fact merges via ``merge_into_partitioned`` (only the event
    dates present in the batch are rewritten); the small dims merge-coalesce
    against their full table (localCheckpoint materializes the merge before
    the overwrite — Spark cannot lazily read and overwrite the same path).
    Idempotent merges + checkpointed offsets = exactly-once end to end even
    when a micro-batch is replayed after failure."""
    from pyspark.errors import AnalysisException

    from ..operators.merge import merge_coalesce
    from ..pipeline.normalize import normalize
    from ..sources.merge_store import merge_into_partitioned

    DIM_KEYS = {"genres": ["name"], "artists": ["name"], "venues": ["name", "full_address"]}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        silver = normalize(batch_df)
        merge_into_partitioned(
            spark,
            f"{silver_dir}/events",
            silver["events"],
            keys=["wwoz_event_href"],
            partition_col="event_date",
            keep_if_null_cols=["description"],  # J4 semantics
        )
        for name, keys in DIM_KEYS.items():
            path = f"{silver_dir}/{name}"
            source = silver[name]
            try:
                target = spark.read.parquet(path)
                merged = merge_coalesce(target, source, keys=keys).localCheckpoint()
            except AnalysisException as exc:
                # first write ⇔ PATH_NOT_FOUND; an unreadable existing table
                # must propagate — the mode("overwrite") below would replace
                # it with this batch alone (data loss)
                from ..errors import is_path_not_found

                if not is_path_not_found(exc):
                    raise
                merged = source
            merged.write.mode("overwrite").parquet(path)

    return start_stream(process, read_bronze_stream(spark, bronze_dir), checkpoint_dir)


def start_versioned_upsert(
    stream_df: DataFrame,
    table,
    keys,
    checkpoint_dir: str,
    app_id: str = "versioned-upsert",
    coalesce_cols=None,
    overwrite_cols=(),
    keep_if_null_cols=(),
    available_now: bool = True,
) -> StreamingQuery:
    """Exactly-once streaming MERGE into a ``VersionedParquetTable``.

    foreachBatch + the table's ``txn=(app_id, batch_id)`` idempotence
    (sources/merge_store.py): checkpointed offsets guarantee at-least-once
    batch delivery, the manifest's ``_txn`` watermark turns a replayed
    batch into a no-op commit — together, exactly-once table versions, the
    Delta ``txnAppId``/``txnVersion`` pattern. Unlike the plain
    merge-is-idempotent argument (start_silver_maintenance), this also
    avoids burning a table version per replay, and it stays correct for
    merge semantics that are NOT naturally idempotent (e.g. a counter
    accumulate column)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.merge(
            batch_df.sparkSession,
            batch_df,
            keys=keys,
            coalesce_cols=coalesce_cols,
            overwrite_cols=overwrite_cols,
            keep_if_null_cols=keep_if_null_cols,
            txn=(app_id, batch_id),
        )

    return start_stream(process, stream_df, checkpoint_dir, available_now)
