"""Streaming VOCABULARY drift monitor: PSI over hashed token buckets,
kept current as documents arrive.

The text-side sibling of ``streaming/drift.py``: the reference bucket
histogram is computed ONCE from a frozen corpus slice; each micro-batch
of documents folds its token instances into (key, bucket, n) counts and
overwrites its own ``b=<batch_id>`` partition of the cell log (dynamic
partition overwrite ⇒ at-least-once replays rewrite, never double-count —
the family's convergence trick). The PSI report is a read-side fold using
the same ``psi_from_cells`` arithmetic as the batch query
(``text_vocab_psi_drift``), so streamed and batch vocabulary PSI agree on
identical data.

Per batch, the bytes that move are |keys|·buckets counters — independent
of batch size; the monitor tails a document firehose at bounded cost, and
catches the corpus-level failure a per-doc quality gate cannot: a crawl
source silently shifting its vocabulary distribution."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import drift
from ..operators.textanalysis import VOCAB_PSI_BUCKETS as VOCAB_BUCKETS
from ..operators.textanalysis import term_bucket
from .state_store import start_stream


def _bucket_counts(
    docs: DataFrame, key: str, text_col: str, buckets: int, out: str
) -> DataFrame:
    """(key, bin, <out>) token-instance counts per hashed bucket — the
    SHARED ``term_bucket`` expression, so stream and batch land token
    instances in identical cells by construction."""
    tok = docs.select(F.col(key), F.explode(T.tokens(F.col(text_col))).alias("term"))
    return (
        tok.select(key, term_bucket(F.col("term"), buckets).alias("bin"))
        .groupBy(key, "bin")
        .agg(F.count(F.lit(1)).alias(out))
    )


def vocab_reference_cells(
    ref_docs: DataFrame,
    key: str = "lang",
    text_col: str = "text",
    buckets: int = VOCAB_BUCKETS,
) -> DataFrame:
    """(key, bin, ref_n) from the frozen reference corpus. Bounded
    (|keys|·buckets rows) — persist it for the life of the monitor."""
    return _bucket_counts(ref_docs, key, text_col, buckets, "ref_n")


def start_vocab_cell_log(
    docs: DataFrame,
    log_root: str,
    checkpoint_dir: str,
    key: str = "lang",
    text_col: str = "text",
    buckets: int = VOCAB_BUCKETS,
    available_now: bool = True,
):
    """foreachBatch job: fold each micro-batch's token instances into
    bucket counts and overwrite the batch's own ``b=<batch_id>`` partition
    of the cell log."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cells = _bucket_counts(batch_df, key, text_col, buckets, "n").withColumn(
            "b", F.lit(batch_id)
        )
        (
            cells.repartition(1)  # |keys|·buckets rows — one tidy file per batch
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("b")
            .parquet(log_root)
        )

    return start_stream(process, docs, checkpoint_dir, available_now)


def streamed_vocab_psi(
    spark: SparkSession,
    log_root: str,
    ref_cells: DataFrame,
    key: str = "lang",
    buckets: int = VOCAB_BUCKETS,
) -> DataFrame:
    """(key, n_ref, n_tgt, psi): fold the cell log into target counts and
    score against the frozen reference through ``psi_from_cells_exact`` —
    the SAME rounded-once decimal fold the batch vocabulary-PSI query
    uses (not the raw-double ``psi_from_cells`` of the numeric monitor:
    over hundreds of vocabulary cells a double sum is partition-order-
    dependent and can disagree with an independent recomputation in the
    last digit), so streamed == batch digit-for-digit on the same data."""
    tgt = (
        spark.read.parquet(log_root)
        .groupBy(key, "bin")
        .agg(F.sum("n").alias("tgt_n"))
    )
    cells = ref_cells.join(tgt, [key, "bin"], "full_outer").select(
        key,
        "bin",
        F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
        F.coalesce("tgt_n", F.lit(0)).alias("tgt_n"),
    )
    return drift.psi_from_cells_exact(cells, key, buckets)
