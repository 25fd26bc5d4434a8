"""Shuffle-pruned top-k per group.

The textbook ``row_number() OVER (PARTITION BY g ORDER BY v) <= k`` shuffles
EVERY row to its group's reducer and sorts there. But top-k is partially
computable: a row that isn't in its group's top-k within its own input
partition can't be in the global top-k. Pre-pruning map-side caps the
shuffle at k·|groups|·|partitions| rows — on a 100 TB fact with thousands
of rows per (group, partition), orders of magnitude less traffic for the
same exact answer.

Spark ≥3.5 performs this prune NATIVELY: the rank-limit pushdown rule
(``spark.sql.optimizer.windowGroupLimitThreshold``, on by default) inserts
a JVM-side ``WindowGroupLimit ... Partial`` operator before the exchange
whenever the plan is ``row_number()/rank() ... <= k`` — check any probe
plan in EXPLAIN.md. The pinned Spark has the rule, so the operator is a
plain window that the optimizer prunes itself."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Exact top-k rows per group by (order_col DESC, id_col ASC). Spark's
    own WindowGroupLimit rule prunes map-side (see module docstring)."""
    w = Window.partitionBy(*group_cols).orderBy(F.desc(order_col), F.asc(id_col))
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(*df.columns, "rk")
    )
