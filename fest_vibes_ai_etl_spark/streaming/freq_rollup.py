"""Streaming maintenance of a Misra-Gries frequency-summary log.

The HLL rollup (sketch_rollup.py) folds batches into ONE snapshot because
HLL union is idempotent — replaying a batch is a no-op. MG summaries are
NOT replay-idempotent: re-adding the same counts double-counts. So the
streaming shape differs, and the difference is the point:

- each micro-batch writes its own summary partition, keyed by a
  DETERMINISTIC content fingerprint of the batch (an order-independent
  xxhash64 sum of its doc ids) — a replayed batch computes the same key and
  overwrites its own partition instead of appending a duplicate;
- the heavy-hitter answer is assembled at read time by merging all batch
  partitions (sum of per-item counts; undercount bound = sum of per-batch
  decrement totals — MG summaries merge by addition, the bound adds too).

Per batch the write is ≤ k item rows + 1 sentinel row; read-side merge
touches k·#batches rows, never the raw stream. Exactly-once in effect with
no transactional sink, same as the HLL table, but via overwrite-by-content
instead of idempotent union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.freqsketch import token_mg_summaries
from .state_store import start_stream


def batch_fingerprint(batch_df: DataFrame, id_col: str) -> str:
    """Order-independent deterministic fingerprint of a batch: the
    wrapping sum of xxhash64(id), hex-formatted. Replays of the same batch
    (any partitioning / row order) produce the same value."""
    # decimal(38,0) accumulator: a plain long sum overflows under ANSI mode
    row = batch_df.agg(
        F.sum(F.xxhash64(F.col(id_col).cast("string")).cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return f"{int(row.s or 0) % (1 << 64):016x}-{row.n}"


def start_freq_maintenance(
    docs: DataFrame,
    log_root: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 48,
    available_now: bool = True,
):
    """foreachBatch job: write each micro-batch's MG summary to its own
    fingerprint-keyed partition of the summary log."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fp = batch_fingerprint(batch_df, id_col)
        summaries = token_mg_summaries(batch_df, text_col, k)
        ests = (
            summaries.where(F.col("item").isNotNull())
            .groupBy("item")
            .agg(F.sum("cnt").alias("cnt"))
            .withColumn("dec", F.lit(0).cast("long"))
        )
        dec = (
            summaries.groupBy("pid")
            .agg(F.first("dec").alias("d"))
            .agg(F.sum("d").alias("dec"))
            .select(
                F.lit(None).cast("string").alias("item"),
                F.lit(0).cast("long").alias("cnt"),
                F.col("dec"),
            )
        )
        (
            ests.unionByName(dec)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{log_root}/b={fp}")
        )

    return start_stream(process, docs, checkpoint_dir, available_now)


def merged_heavy_hitters(spark: SparkSession, log_root: str) -> DataFrame:
    """Merge every batch partition of the summary log:
    (item, est_count, max_undercount) with est ≤ true ≤ est + bound."""
    log = spark.read.option("basePath", log_root).parquet(log_root)
    total_dec = log.where(F.col("item").isNull()).agg(
        F.sum("dec").alias("max_undercount")
    )
    ests = (
        log.where(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("cnt").alias("est_count"))
    )
    return ests.crossJoin(F.broadcast(total_dec))
