"""Bloom-filter semi-join: no false negatives, exactness, pruning power."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR

from fest_vibes_ai_etl_spark.operators import bloomfilter as B
from fest_vibes_ai_etl_spark.sources import table


def test_bloom_no_false_negatives(spark):
    supp = table(spark, SF_DIR, "supplier")
    bm = B.bloom_words_df(supp, "s_suppkey")
    misses = (
        supp.crossJoin(F.broadcast(bm))
        .filter(~B.bloom_might_contain_native(F.col("bm"), F.col("s_suppkey")))
        .count()
    )
    assert misses == 0


def test_bloom_semi_join_exact(spark):
    li = table(spark, SF_DIR, "lineitem")
    watch = table(spark, SF_DIR, "supplier").filter(F.pmod("s_suppkey", F.lit(5)) == 0)
    got = {
        tuple(r)
        for r in B.bloom_semi_join(li, watch, "l_suppkey", "s_suppkey")
        .select("l_orderkey", "l_linenumber")
        .collect()
    }
    want = {
        tuple(r)
        for r in li.join(
            watch.select(F.col("s_suppkey").alias("l_suppkey")), "l_suppkey", "left_semi"
        )
        .select("l_orderkey", "l_linenumber")
        .collect()
    }
    assert got == want and len(got) > 0


def test_bloom_prefilter_prunes(spark):
    li = table(spark, SF_DIR, "lineitem")
    watch = table(spark, SF_DIR, "supplier").filter(F.pmod("s_suppkey", F.lit(5)) == 0)
    total = li.count()
    exact = B.bloom_semi_join(li, watch, "l_suppkey", "s_suppkey").count()
    # the pre-filter alone, at the bitmap size bloom_semi_join derives
    bits = B.sized_bits(watch.count())
    bm = B.bloom_words_df(watch, "s_suppkey", bits)
    pre = (
        li.crossJoin(F.broadcast(bm))
        .filter(B.bloom_might_contain_native(F.col("bm"), F.col("l_suppkey"), bits))
        .count()
    )
    # superset of the true matches, but far below the full scan: the
    # sized bitmap (1024-bit floor, 5 hashes, a handful of keys) has FP
    # rate << 1%.
    assert exact <= pre <= exact + max(10, total // 100)
    assert pre < total / 2


def test_bloom_above_native_cap_is_plain_semi_join(spark):
    # 10k build keys size to more than NATIVE_ATTACH_MAX_BITS: no bitmap is
    # built or attached, and the result is exactly the plain semi join
    build = spark.range(10_000)
    assert B.sized_bits(10_000) > B.NATIVE_ATTACH_MAX_BITS
    probe = spark.range(0, 30_000, 7).select(F.col("id").alias("k"))
    got = B.bloom_semi_join(probe, build, "k", "id")
    want = probe.join(build.select(F.col("id").alias("k")), "k", "left_semi")
    assert {r.k for r in got.collect()} == {r.k for r in want.collect()}
    assert got.count() == want.count() > 0
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "bm#" not in plan
    assert "xxhash64" not in plan  # no bloom positions probed at all
