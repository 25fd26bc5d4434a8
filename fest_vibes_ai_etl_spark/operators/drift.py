"""Distribution-drift primitives shared by the batch PSI query
(plans/statsq.py:events_psi_value_drift) and the streaming monitor
(streaming/monitors.py): reference-fit equal-width binning and the smoothed
population-stability index.

Scale shape: the reference fit is one bounded aggregate (2 doubles per
group key), broadcast back onto the scan; binning is a per-row map; every
downstream aggregate is keyed on (group, bin) — bounded cardinality no
matter how many input rows. That is what lets one job sweep a whole
feature store's drift daily."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.rounding import round_div


def fit_reference(
    df: DataFrame, key: str = "event_type", value: str = "value", bins: int = 10
) -> DataFrame:
    """(key, lo, width): equal-width bin geometry fit on the reference
    slice. ``width`` is floored at 1e-300 so a degenerate (constant)
    reference cannot divide by zero — every value then lands in bin 0 on
    both engines."""
    return df.groupBy(key).agg(
        F.min(value).alias("lo"),
        F.greatest(F.max(value) - F.min(value), F.lit(1e-300)).alias("width"),
    )


def bin_values(
    df: DataFrame,
    ref_stats: DataFrame,
    key: str = "event_type",
    value: str = "value",
    bins: int = 10,
) -> DataFrame:
    """Adds ``bin`` (int, clamped to [0, bins-1]); rows whose key has no
    reference geometry are dropped (inner join — an unseen category has no
    reference distribution to drift from)."""
    return df.join(broadcast(ref_stats), key).withColumn(
        "bin",
        F.least(
            F.greatest(
                F.floor(
                    (F.col(value) - F.col("lo")) / (F.col("width") / bins)
                ).cast("int"),
                F.lit(0),
            ),
            F.lit(bins - 1),
        ),
    )


def psi_from_cells(
    cells: DataFrame, key: str = "event_type", bins: int = 10
) -> DataFrame:
    """(key, n_ref, n_tgt, psi) from a cell table (key, bin, ref_n, tgt_n).
    Add-half smoothing keeps empty cells finite; psi is rounded at 6
    decimals via the house epsilon so both engines agree on the grid."""
    tot = cells.groupBy(key).agg(
        F.sum("ref_n").alias("ref_tot"), F.sum("tgt_n").alias("tgt_tot")
    )
    p = (F.col("ref_n") + 0.5) / (F.col("ref_tot") + bins * 0.5)
    q = (F.col("tgt_n") + 0.5) / (F.col("tgt_tot") + bins * 0.5)
    return (
        cells.join(broadcast(tot), key)
        .groupBy(key)
        .agg(
            F.max("ref_tot").cast("long").alias("n_ref"),
            F.max("tgt_tot").cast("long").alias("n_tgt"),
            round_div(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
        )
    )


def psi_from_cells_exact(
    cells: DataFrame, key: str, bins: int
) -> DataFrame:
    """(key, n_ref, n_tgt, psi) — same statistic as ``psi_from_cells`` but
    with bit-reproducible arithmetic for wide cell tables: each cell's PSI
    term is rounded once at 8 dp and cast to DECIMAL(18,8), the per-key
    sum is then EXACT, and the result rounds at 6 dp with no epsilon.
    Use this variant when the cell count per key is large (e.g. hashed
    vocabulary buckets): a raw double sum over hundreds of cells is
    partition-order-dependent and can disagree with an independent
    recomputation in the last digit; the rounded-once decimal sum cannot.
    The batch vocabulary-PSI query and the streaming vocabulary monitor
    both use THIS fold, so their reports are comparable digit-for-digit."""
    tot = cells.groupBy(key).agg(
        F.sum("ref_n").alias("ref_tot"), F.sum("tgt_n").alias("tgt_tot")
    )
    half = bins * 0.5
    p = (F.col("ref_n") + 0.5) / (F.col("ref_tot") + half)
    q = (F.col("tgt_n") + 0.5) / (F.col("tgt_tot") + half)
    term = F.round((p - q) * F.log(p / q), 8).cast("decimal(18,8)")
    return (
        cells.join(broadcast(tot), key)
        .select(key, "ref_tot", "tgt_tot", term.alias("term"))
        .groupBy(key)
        .agg(
            F.max("ref_tot").cast("long").alias("n_ref"),
            F.max("tgt_tot").cast("long").alias("n_tgt"),
            F.round(F.sum("term"), 6).cast("double").alias("psi"),
        )
    )
