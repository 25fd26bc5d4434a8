"""Bloom-filter semi-join: a user-level runtime filter.

Spark's own runtime filtering (InjectRuntimeFilter / DPP) only fires inside
one optimizer run on eligible shapes; this operator is the explicit form for
pipelines that stage work across jobs — build a compact bitmap from the
filtering side once, then cheaply pre-filter a huge probe side *before* it
reaches the shuffle of the real join. The payoff at 100 TB: rows that would
be dropped by the join never get shuffled (bloom probe is a map-side
operation), at the cost of shipping a bitmap measured in KB–MB.

Distributed build, no driver collect: key → k seeded xxhash64 positions
(JVM-side), positions → (word, bit) → ``bit_or`` aggregate per 64-bit word,
assembled into a one-row ``num_bits/64``-long array regardless of input
size. The probe evaluates the same k positions against that array in
whole-stage codegen, so build and probe can never disagree.

Sizing: FP rate ≈ (1 - e^{-k·n/m})^k. :func:`bloom_semi_join` sizes the
bitmap from the build side; a build side that needs more than
``NATIVE_ATTACH_MAX_BITS`` gets the plain semi join instead.

The reference has no analogue (single-node Postgres joins never pay a
shuffle); this is pure scale machinery for the Spark engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BITS = 1 << 20
DEFAULT_HASHES = 5


def _positions(key: Column, num_bits: int) -> list[Column]:
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
        for i in range(DEFAULT_HASHES)
    ]


def bloom_words_df(
    build_side: DataFrame,
    key: str,
    num_bits: int = DEFAULT_BITS,
) -> DataFrame:
    """The bloom bitmap as a ONE-ROW DataFrame (``bm``: array<bigint> of
    ``num_bits/64`` words): explode → distinct → per-word ``bit_or``, with
    the dense word array assembled in the final one-row aggregate — so the
    bitmap never round-trips through a ``collect()`` and the whole
    build+probe composes into ONE Spark job (the bitmap ships to executors
    as an ordinary broadcast relation)."""
    n_words = num_bits >> 6
    pos = (
        build_side.select(
            F.explode(F.array(*_positions(F.col(key), num_bits))).alias("p")
        )
        .distinct()
    )
    words = (
        pos.select(
            F.shiftright(F.col("p"), 6).alias("w"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("word"))
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("wm"), i.cast("bigint")), F.lit(0).cast("bigint")
        ),
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias("wm")
    ).select(dense.alias("bm"))


def bloom_might_contain_native(
    bm: Column, key: Column, num_bits: int = DEFAULT_BITS
) -> Column:
    """JVM-native probe over a word-array bitmap COLUMN (from
    :func:`bloom_words_df`): the build's k seeded-xxhash64 positions and
    word/bit layout, evaluated entirely in whole-stage codegen — no Arrow
    boundary, no Python workers (guide §4.1: prefer built-ins)."""
    cond = None
    for h in _positions(key, num_bits):
        word = F.element_at(bm, (F.shiftright(h, 6) + 1).cast("int"))
        # call_function: the SQL shiftright accepts a COLUMN shift amount
        # (the python F.shiftright wrapper insists on a literal int)
        bit = (
            F.call_function("shiftright", word, (h % 64).cast("int")).bitwiseAND(
                F.lit(1)
            )
            == 1
        )
        cond = bit if cond is None else cond & bit
    return cond


# Largest bitmap the one-row-broadcast NATIVE probe may attach to probe
# rows. Round-15 isolation at 6x sf0.1 (3.6M probe rows, OPTIMIZATION_r15):
# the per-row probe cost is proportional to the ATTACHED ARRAY's width, not
# to the 5 bit tests — 2^20 bits (16384 longs) measured 3.3-7.7 s where
# 2^16 bits measured ~0.8-1.1 s and 2^13 ~0.6 s. Above this, the plain
# broadcast semi join (0.8-1.2 s on the same window) beats every bloom
# probe measured there, so the pre-filter is skipped.
NATIVE_ATTACH_MAX_BITS = 1 << 16


def sized_bits(n_keys: int) -> int:
    """Bitmap bits for ~1% FP at ``n_keys`` (m ≈ 9.6·n, the standard
    -n·ln p/ln²2 sizing), floored at 1024 bits and rounded to whole
    64-bit words. With the k = ``DEFAULT_HASHES`` = 5 hashes every build
    and probe uses, the realized FP at m=9.6n is ~1.1%."""
    m = max(1024, int(9.6 * max(n_keys, 1)) + 63)
    return m - m % 64


def bloom_semi_join(
    probe_side: DataFrame,
    build_side: DataFrame,
    probe_key: str,
    build_key: str,
    num_bits: int | None = None,
) -> DataFrame:
    """Semi-join ``probe_side`` to ``build_side`` with a bloom pre-filter,
    then a real semi join that removes the bloom false positives — the
    result is EXACTLY the semi join, but only the ~FP-rate excess of
    matching rows ever reaches the shuffle.

    Round 15: the bitmap is SIZED FROM THE BUILD SIDE (``num_bits=None``
    counts it — one cheap job on what is by contract the small side —
    and applies :func:`sized_bits`): the round-14 fixed 2^20-bit bitmap
    made the native probe's per-row cost proportional to a 16384-long
    attached array, measured 2.5x SLOWER than the pre-r14 pandas probe at
    6x sf0.1. Small sized bitmaps keep the round-14 JVM-native probe (the
    bitmap rides a one-row broadcast, bit tests in codegen, no
    ArrowEvalPython); a build side big enough to need more than
    ``NATIVE_ATTACH_MAX_BITS`` skips the pre-filter and runs the plain
    semi join. Pass ``num_bits`` explicitly to skip the sizing count."""
    if num_bits is None:
        num_bits = sized_bits(build_side.count())
    pre = probe_side
    if num_bits <= NATIVE_ATTACH_MAX_BITS:
        bm = bloom_words_df(build_side, build_key, num_bits)
        pre = (
            probe_side.crossJoin(F.broadcast(bm))
            .filter(
                bloom_might_contain_native(
                    F.col("bm"), F.col(probe_key), num_bits
                )
            )
            .drop("bm")
        )
    keys = build_side.select(F.col(build_key).alias(probe_key)).distinct()
    return pre.join(keys, probe_key, "left_semi")
