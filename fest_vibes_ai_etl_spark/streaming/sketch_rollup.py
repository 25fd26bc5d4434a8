"""Streaming maintenance of a mergeable sketch table.

The batch side (plans/sketches.py) materializes (day, HLL sketch) partials;
this module keeps that table current as events stream in: each micro-batch
builds its own per-day sketches, unions them with the stored snapshot
(``hll_union_agg``), and writes a new snapshot version.

Why this shape scales: the state that moves per batch is |days| × ~1.5 KB —
independent of batch row count or user cardinality — and HLL union is
idempotent ∪ associative, so at-least-once replay of a micro-batch
CONVERGES to the same sketch (re-unioning the same users is a no-op). That
makes the pipeline exactly-once *in effect* with no transactional sink.

Snapshots are versioned partitions (``v=<stored vmax + 1>`` — monotone
across restarts and checkpoint replays) so a reader never races a writer;
readers take the max version. Old versions are pruned
opportunistically (keep the last few for time travel / debugging)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from .state_store import start_stream


def _latest_snapshot(spark: SparkSession, root: str):
    """(vmax, snapshot DataFrame) for a versioned sketch table, or None if
    the table does not exist yet. Only the MISSING-TABLE case maps to
    None — any other read failure (corrupt files, permission, schema)
    propagates, because treating it as 'first batch' would silently write
    the batch under v=0 while readers keep taking max(v): the batch's
    contribution would vanish without the job ever failing."""
    try:
        snap = spark.read.parquet(root)
    except AnalysisException as exc:
        from ..errors import is_path_not_found

        if not is_path_not_found(exc):  # e.g. UNABLE_TO_INFER_SCHEMA
            raise
        return None
    vmax = snap.agg(F.max("v")).collect()[0][0]
    return vmax, snap


def latest_sketches(spark: SparkSession, root: str) -> DataFrame:
    """The newest snapshot: (day, user_sketch) at the max version."""
    snap = spark.read.parquet(root)
    vmax = snap.agg(F.max("v").alias("m"))
    return (
        snap.join(F.broadcast(vmax), snap["v"] == vmax["m"])
        .select("day", "user_sketch")
    )


def start_sketch_maintenance(
    events: DataFrame,
    sketch_root: str,
    checkpoint_dir: str,
    lg_k: int = 12,
    available_now: bool = True,
):
    """foreachBatch job: fold each micro-batch's per-day HLL partials into
    the versioned sketch table. ``events`` is a streaming DataFrame with
    (ts, user_id)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = (
            batch_df.select(F.to_date("ts").alias("day"), "user_id")
            .groupBy("day")
            .agg(F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("user_sketch"))
        )
        found = _latest_snapshot(spark, sketch_root)
        if found is not None:
            vmax, snap = found
            prev = snap.filter(F.col("v") == vmax).select("day", "user_sketch")
            merged = (
                prev.unionByName(fresh)
                .groupBy("day")
                .agg(F.hll_union_agg("user_sketch", F.lit(True)).alias("user_sketch"))
            )
            next_v = vmax + 1  # monotone across restarts/replays — not the
            # per-run batch_id, which resets and would collide with an
            # existing snapshot partition
        else:  # first batch: no snapshot yet
            merged, next_v = fresh, 0
        (
            merged.withColumn("v", F.lit(next_v))
            .write.mode("append")
            .partitionBy("v")
            .parquet(sketch_root)
        )

    return start_stream(process, events, checkpoint_dir, available_now)


# --- KMV variant: mergeable AND intersectable distinct sets ---------------


def latest_kmv(spark: SparkSession, root: str) -> DataFrame:
    """The newest KMV snapshot: (day, kset array<bigint>) at max version."""
    snap = spark.read.parquet(root)
    vmax = snap.agg(F.max("v").alias("m"))
    return snap.join(F.broadcast(vmax), snap["v"] == vmax["m"]).select("day", "kset")


def start_kmv_maintenance(
    events: DataFrame,
    kmv_root: str,
    checkpoint_dir: str,
    k: int = 64,
    available_now: bool = True,
):
    """foreachBatch job maintaining per-day KMV k-sets (operators/
    kmvsketch.py) as a versioned snapshot table — the intersectable twin of
    the HLL maintenance above. Per batch: build the batch's per-day k-sets,
    TRIMMED-UNION them with the stored snapshot (k smallest of the union —
    idempotent, associative, commutative, so at-least-once replay
    converges exactly like the HLL path), write version v = stored
    vmax + 1 (monotone across restarts and checkpoint replays). State
    per day is ≤ 8·k bytes; estimates and audience intersections come off
    the snapshot without touching the fact stream."""
    from ..operators.kmvsketch import k_smallest_hashes

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        day_rows = batch_df.select(F.to_date("ts").alias("day"), "user_id")
        fresh = (
            k_smallest_hashes(day_rows, ["day"], "user_id", k)
            .groupBy("day")
            .agg(F.sort_array(F.collect_list("h")).alias("kset"))
        )
        found = _latest_snapshot(spark, kmv_root)
        if found is not None:
            vmax, snap = found
            prev = snap.filter(F.col("v") == vmax).select("day", "kset")
            merged = (
                prev.unionByName(fresh)
                .select("day", F.explode("kset").alias("h"))
                .distinct()
                .groupBy("day")
                .agg(
                    F.slice(F.sort_array(F.collect_list("h")), 1, k).alias("kset")
                )
            )
            next_v = vmax + 1  # monotone across restarts/replays — same
            # discipline as the HLL twin above: the per-run batch_id resets
            # on a fresh checkpoint (newest snapshot would never advance)
            # and a checkpoint REPLAY of the same batch_id would append a
            # duplicate copy of every row into the existing v partition.
            # vmax+1 is always a new partition; replay idempotence comes
            # from the trimmed-union content being convergent, not the
            # version number.
        else:  # first batch: no snapshot yet
            merged, next_v = fresh, 0
        (
            merged.withColumn("v", F.lit(next_v))
            .localCheckpoint()  # materialize before overwriting the source
            .write.mode("append")
            .partitionBy("v")
            .parquet(kmv_root)
        )

    return start_stream(process, events, checkpoint_dir, available_now)
