"""The streaming monitors: five analytical answers kept current as a
stream arrives, each a family of the rollup log (``streaming/rollup_log.py``)
that supplies only its batch partial and its merge.

- **PSI drift** (``events_psi_value_drift`` kept current): the reference
  geometry (key, lo, width) and reference cells are computed ONCE from
  the frozen slice and broadcast into every batch; each batch lands its
  (key, bin, n) counts; the report folds the cells and runs the batch
  query's own ``psi_from_cells``, so streamed == batch bit-for-bit.
- **Vocabulary drift** (``text_vocab_psi_drift``): the same cell log over
  hashed token buckets (the SHARED ``term_bucket``), scored by the batch
  query's ``psi_from_cells_exact``.
- **Misra-Gries heavy hitters**: ≤ k (item, cnt) rows plus one sentinel
  row (item NULL) carrying the batch's decrement total in ``dec``. MG
  summaries merge by addition, the undercount bounds too, so a batch
  counted twice would double its items: the log's checkpoint pin is what
  keeps each batch counted once.
- **Per-day HLL and KMV sketches**: merged by ``hll_union_agg`` and by
  the trimmed union (the k smallest distinct hashes of the union).

Per batch, the bytes that move are bounded by the family's state
(|keys|·bins counters, k items, |days| sketches), independent of the
batch's row count: a monitor tails a firehose at bounded cost."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import drift
from ..operators.freqsketch import token_mg_summaries
from ..operators.kmvsketch import k_smallest_hashes
from ..operators.textanalysis import VOCAB_PSI_BUCKETS as VOCAB_BUCKETS
from ..operators.textanalysis import term_bucket
from .banded_index import hadoop_read_json
from .rollup_log import META, Rollup, read_rollup, start_rollup, summed

# --- PSI drift and vocabulary drift: (key, bin, n) cell logs ----------------


def _cells_vs_reference(
    spark: SparkSession, log_root: str, ref_cells: DataFrame, key: str
) -> DataFrame:
    """(key, bin, ref_n, tgt_n): the folded cell log full-outer-joined
    with the frozen reference cells."""
    tgt = read_rollup(spark, log_root, summed([key, "bin"], ["n"]))
    return ref_cells.join(tgt, [key, "bin"], "full_outer").select(
        key,
        "bin",
        F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
        F.coalesce("n", F.lit(0)).alias("tgt_n"),
    )


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
    reference geometry and land its (key, bin, n) counts in the cell
    log."""

    def partials(batch_df: DataFrame) -> DataFrame:
        return (
            drift.bin_values(batch_df, ref_stats, key, value, bins)
            .groupBy(key, "bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    rollup = Rollup("psi_drift", {"bins": bins}, partials, summed([key, "bin"], ["n"]))
    return start_rollup(rollup, events, log_root, checkpoint_dir, available_now)


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
    return drift.psi_from_cells(
        _cells_vs_reference(spark, log_root, ref_cells, key), key, bins
    )


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
    bucket counts and land them in the cell log."""
    rollup = Rollup(
        "vocab_drift",
        {"buckets": buckets},
        lambda batch_df: _bucket_counts(batch_df, key, text_col, buckets, "n"),
        summed([key, "bin"], ["n"]),
    )
    return start_rollup(rollup, docs, log_root, checkpoint_dir, available_now)


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
    return drift.psi_from_cells_exact(
        _cells_vs_reference(spark, log_root, ref_cells, key), key, buckets
    )


# --- Misra-Gries heavy hitters ---------------------------------------------

_MG_MERGE = summed(["item"], ["cnt", "dec"])


def start_freq_maintenance(
    docs: DataFrame,
    log_root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    k: int = 48,
    available_now: bool = True,
):
    """foreachBatch job: land each micro-batch's MG summary in the
    summary log."""

    def partials(batch_df: DataFrame) -> DataFrame:
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
        return ests.unionByName(dec)

    rollup = Rollup("misra_gries", {"k": k}, partials, _MG_MERGE)
    return start_rollup(rollup, docs, log_root, checkpoint_dir, available_now)


def merged_heavy_hitters(spark: SparkSession, log_root: str) -> DataFrame:
    """Fold the summary log: (item, est_count, max_undercount) with
    est ≤ true ≤ est + bound."""
    log = read_rollup(spark, log_root, _MG_MERGE)
    total_dec = log.where(F.col("item").isNull()).select(
        F.col("dec").alias("max_undercount")
    )
    ests = log.where(F.col("item").isNotNull()).select(
        "item", F.col("cnt").alias("est_count")
    )
    return ests.crossJoin(F.broadcast(total_dec))


# --- per-day HLL and KMV sketches ------------------------------------------


def _hll_union(df: DataFrame) -> DataFrame:
    return df.groupBy("day").agg(
        F.hll_union_agg("user_sketch", F.lit(True)).alias("user_sketch")
    )


def latest_sketches(spark: SparkSession, root: str) -> DataFrame:
    """The folded sketch table: (day, user_sketch)."""
    return read_rollup(spark, root, _hll_union)


def start_sketch_maintenance(
    events: DataFrame,
    sketch_root: str,
    checkpoint_dir: str,
    lg_k: int = 12,
    available_now: bool = True,
):
    """foreachBatch job: land each micro-batch's per-day HLL partials in
    the sketch table. ``events`` is a streaming DataFrame with
    (ts, user_id)."""

    def partials(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(F.to_date("ts").alias("day"), "user_id")
            .groupBy("day")
            .agg(F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("user_sketch"))
        )

    rollup = Rollup("hll", {"lg_k": lg_k}, partials, _hll_union)
    return start_rollup(rollup, events, sketch_root, checkpoint_dir, available_now)


def _trimmed_union(k: int):
    """The KMV merge: the k smallest distinct hashes of the union —
    idempotent, associative and commutative."""
    return lambda df: (
        df.select("day", F.explode("kset").alias("h"))
        .distinct()
        .groupBy("day")
        .agg(F.slice(F.sort_array(F.collect_list("h")), 1, k).alias("kset"))
    )


def latest_kmv(spark: SparkSession, root: str) -> DataFrame:
    """The folded KMV table: (day, kset array<bigint>), trimmed to the k
    pinned in the log's meta."""
    meta = hadoop_read_json(spark, f"{root.rstrip('/')}/{META}") or {}
    return read_rollup(spark, root, _trimmed_union(meta.get("k")))


def start_kmv_maintenance(
    events: DataFrame,
    kmv_root: str,
    checkpoint_dir: str,
    k: int = 64,
    available_now: bool = True,
):
    """foreachBatch job maintaining per-day KMV k-sets (operators/
    kmvsketch.py), the intersectable twin of the HLL maintenance: each
    batch lands its per-day k-sets. State per day is ≤ 8·k bytes;
    estimates and audience intersections come off the folded table
    without touching the fact stream."""

    def partials(batch_df: DataFrame) -> DataFrame:
        day_rows = batch_df.select(F.to_date("ts").alias("day"), "user_id")
        return (
            k_smallest_hashes(day_rows, ["day"], "user_id", k)
            .groupBy("day")
            .agg(F.sort_array(F.collect_list("h")).alias("kset"))
        )

    rollup = Rollup("kmv", {"k": k}, partials, _trimmed_union(k))
    return start_rollup(rollup, events, kmv_root, checkpoint_dir, available_now)
