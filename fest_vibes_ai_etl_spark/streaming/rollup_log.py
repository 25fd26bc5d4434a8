"""One rollup log for the streaming monitors (``streaming/monitors.py``):
per-batch mergeable partials, folded on read and by the compactor.

Each monitor state is a mergeable summary (Agarwal et al., *Mergeable
Summaries*, PODS 2012), so a family (:class:`Rollup`) supplies only
``partials(batch_df)``, the batch's ``(key…, partial)`` rows, and
``merge(df)``, a ``groupBy(keys).agg(...)`` returning the same schema.
This module owns the rest. One batch, in order:

1. **Pin** (once per stream). The log's ``_meta.json`` records the
   streaming query id, which is the checkpoint's identity (the same
   across restarts of one checkpoint, new for a fresh one), with the
   family and its parameters. A mismatch raises :class:`RollupLogError`
   before anything is written. Under the pin the only batch Spark can
   run twice is the current one (an uncommitted batch re-run with its
   own offsets), which makes batch-id file names sound. A fresh
   checkpoint is refused, not reconciled: its batch ids restart at 0
   and its batch boundaries need not repeat, so no file name can tell a
   re-run row from a new one.
2. **Replay guard.** ``b<batch_id>.parquet`` already landed: return.
3. **Fold.** ``compact_small_files(transform=merge)`` merges the small
   files once more than its ``max_files`` accumulated. It runs before
   the landing, so it folds only batches Spark has committed, and the
   log never holds more than ``max_files + 1`` small files.
4. **Land.** The partial is written under a ``_cstage-`` stage and its
   one file renamed to ``b<batch_id>.parquet``: the batch's last write.
   A crash before the rename leaves a stage the next fold sweeps.

Readers fold the whole log with ``merge`` (:func:`read_rollup`) and
refuse a log whose fold crashed, like every read-only consumer of a
compacted store; the stream's next batch heals it."""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from .banded_index import is_data_file
from .state_store import (
    _STAGE_PREFIX,
    InFlightRecoveryError,
    adopt_or_refuse_meta,
    compact_small_files,
    detect_dir_compaction,
    start_stream,
)

META = "_meta.json"


class RollupLogError(RuntimeError):
    """The monitor log was written by another checkpoint, family or
    parameter set. Appending to it would count another run's batches
    again, so the stream stops before it writes anything."""


class Rollup(NamedTuple):
    """One monitor family: its name and parameters (pinned in the log's
    meta), the batch's partial rows, and the merge that folds partials
    into rows of the same schema."""

    family: str
    params: dict
    partials: Callable[[DataFrame], DataFrame]
    merge: Callable[[DataFrame], DataFrame]


def summed(keys: list[str], cols: list[str]) -> Callable[[DataFrame], DataFrame]:
    """The merge of count-like partials: ``cols`` summed per ``keys``."""
    return lambda df: df.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in cols])


def _pin(spark: SparkSession, root: str, rollup: Rollup) -> None:
    qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    adopt_or_refuse_meta(
        spark,
        f"{root}/{META}",
        {"query_id": qid, "family": rollup.family, **rollup.params},
        RollupLogError,
        f"monitor log at {root}",
        consequence=(
            "Another checkpoint's batch ids and batch boundaries need not "
            "match the ones that wrote this log, so its batches would be "
            "counted twice. Restore the checkpoint that wrote the log, or "
            "delete the log and re-stream."
        ),
    )


def make_rollup_processor(rollup: Rollup, log_root: str):
    """The ``foreachBatch`` body of every monitor: pin, replay guard,
    fold, land (module docstring)."""
    root = log_root.rstrip("/")
    pinned: list[bool] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not pinned:
            _pin(spark, root, rollup)
            pinned.append(True)
        final = f"{root}/b{batch_id}.parquet"
        if fsio.exists(spark, final):
            return
        compact_small_files(spark, root, transform=rollup.merge)
        stage = f"{root}/{_STAGE_PREFIX}b{batch_id}"
        (
            rollup.partials(batch_df)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        parts = [
            f"{stage}/{n}" for n in fsio.list_names(spark, stage) if is_data_file(n)
        ]
        if parts and not fsio.rename(spark, parts[0], final):
            raise OSError(f"monitor log: rename {parts[0]} -> {final} failed")
        fsio.delete(spark, stage)

    return process


def start_rollup(
    rollup: Rollup,
    df: DataFrame,
    log_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Stream ``df`` into the rollup log at ``log_root``; returns the
    started ``StreamingQuery``."""
    return start_stream(
        make_rollup_processor(rollup, log_root), df, checkpoint_dir, available_now
    )


def read_rollup(
    spark: SparkSession, log_root: str, merge: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """The whole log folded by ``merge``. A missing or dataless log raises
    (it is never an empty report), and so does a log whose fold crashed
    after its journal: a raw read could see the folded segment and its
    inputs at once."""
    if detect_dir_compaction(spark, log_root):
        raise InFlightRecoveryError(
            f"monitor log at {log_root} carries an unhealed fold journal; "
            f"the stream's next micro-batch heals it"
        )
    return merge(spark.read.parquet(log_root))
