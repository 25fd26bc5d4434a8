"""Streaming drift monitor: keep a PSI cell log current as events arrive.

The batch PSI query (plans/statsq.py) answers "how far has the target
slice drifted" once; in production the reference is frozen (the training
distribution) and the TARGET grows continuously. This module maintains the
target side incrementally:

- the reference geometry (key, lo, width) and reference cell counts are
  computed ONCE from the frozen slice and broadcast into every batch;
- each micro-batch bins its own rows (per-row map) and writes its
  (key, bin, n) counts to a partition keyed by the batch id —
  ``b=<batch_id>`` with dynamic partition OVERWRITE, so an at-least-once
  replay of a batch rewrites the same partition instead of double
  counting: the log CONVERGES (same exactly-once-in-effect trick as
  streaming/cdc.py and freq_rollup.py);
- the PSI report is a read-side fold: sum the log's cells (bounded
  cardinality: |keys|·bins rows per batch partition) and run the same
  ``psi_from_cells`` the batch query uses, so streamed and batch PSI agree
  bit-for-bit on identical data.

Per batch, the bytes that move are |keys|·bins counters — independent of
batch row count, which is what a monitor that tails a firehose needs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import drift
from .state_store import start_stream


def reference_cells(
    ref: DataFrame, key: str = "event_type", value: str = "value", bins: int = 10
) -> tuple[DataFrame, DataFrame]:
    """(ref_stats, ref_cells) from the frozen reference slice: the bin
    geometry and the per-(key, bin) reference counts. Both are bounded
    tables — persist/broadcast them for the life of the monitor."""
    stats = drift.fit_reference(ref, key, value, bins)
    cells = (
        drift.bin_values(ref, stats, key, value, bins)
        .groupBy(key, "bin")
        .agg(F.count(F.lit(1)).alias("ref_n"))
    )
    return stats, cells


def start_drift_cell_log(
    events: DataFrame,
    ref_stats: DataFrame,
    log_root: str,
    checkpoint_dir: str,
    key: str = "event_type",
    value: str = "value",
    bins: int = 10,
    available_now: bool = True,
):
    """foreachBatch job: bin each micro-batch against the broadcast
    reference geometry and overwrite the batch's own ``b=<batch_id>``
    partition of the cell log with its (key, bin, n) counts."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cells = (
            drift.bin_values(batch_df, ref_stats, key, value, bins)
            .groupBy(key, "bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("b", F.lit(batch_id))
        )
        (
            cells.repartition(1)  # |keys|·bins rows — one tidy file per batch
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("b")
            .parquet(log_root)
        )

    return start_stream(process, events, checkpoint_dir, available_now)


def streamed_psi(
    spark: SparkSession,
    log_root: str,
    ref_cells: DataFrame,
    key: str = "event_type",
    bins: int = 10,
) -> DataFrame:
    """(key, n_ref, n_tgt, psi): fold the cell log into target counts and
    score against the frozen reference cells — the identical arithmetic of
    the batch query, so streamed == batch on the same data."""
    tgt = (
        spark.read.parquet(log_root)
        .groupBy(key, "bin")
        .agg(F.sum("n").alias("tgt_n"))
    )
    cells = (
        ref_cells.join(tgt, [key, "bin"], "full_outer")
        .select(
            key,
            "bin",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("tgt_n", F.lit(0)).alias("tgt_n"),
        )
    )
    return drift.psi_from_cells(cells, key, bins)
