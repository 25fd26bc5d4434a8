"""Bloom-gated semi-join query: runtime-filter pruning as a user operator."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dec_sum
from ..operators.bloomfilter import bloom_semi_join
from ..sources import table
from .catalog import register


@register(
    "bloom_semi_join_revenue",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY l_returnflag
    """,
    tags=("join", "bloom", "runtime-filter"),
    bench=True,
)
def bloom_semi_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems shipped by negative-balance suppliers, with the
    semi join gated by an explicit bloom filter: the ~6%-selective supplier
    set aggregates into a bitmap sized from its count (1024 bits at
    sf0.01), the fact table is pre-filtered
    map-side (non-matching rows never reach a shuffle), and a final semi
    join removes bloom false positives — so the result is EXACTLY the
    oracle's IN-subquery. At 100 TB this is the pattern for semi joins whose
    build side is too big to broadcast but whose key set fits a bitmap."""
    li = table(spark, sf_dir, "lineitem")
    watch = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    hits = bloom_semi_join(li, watch, "l_suppkey", "s_suppkey")
    return hits.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )
