"""Streaming sketch and heavy-hitter monitors: stream ≡ batch, an
at-least-once replay leaves the answer unchanged, and a fresh checkpoint
against the log is refused."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import SF_DIR
from monitor_log import assert_refused, replay_last_batch

from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming.monitors import (
    latest_sketches,
    start_sketch_maintenance,
)


def _estimates(df):
    return {
        r.day.isoformat(): r.est
        for r in df.select(
            "day", F.hll_sketch_estimate("user_sketch").cast("long").alias("est")
        ).collect()
    }


def _run_stream(spark, src_dir, sketch_root, checkpoint):
    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src_dir)
    )
    q = start_sketch_maintenance(stream, sketch_root, checkpoint)
    assert q.awaitTermination(120), "stream did not finish in 120s"


def test_streaming_sketches_match_batch(spark, tmp_path):
    ev = table(spark, SF_DIR, "events").select("ts", "user_id")
    src = str(tmp_path / "src")
    # three separate files -> three micro-batches folding into the table
    ev.filter(F.col("user_id") % 3 == 0).coalesce(1).write.parquet(src)
    ev.filter(F.col("user_id") % 3 == 1).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("user_id") % 3 == 2).coalesce(1).write.mode("append").parquet(src)

    root = str(tmp_path / "sketches")
    _run_stream(spark, src, root, str(tmp_path / "ckpt1"))
    streamed = _estimates(latest_sketches(spark, root))

    batch = _estimates(
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("user_sketch"))
    )
    assert streamed == batch and len(batch) > 0

    # at-least-once replay of the last batch on its own checkpoint
    replay_last_batch(
        tmp_path / "ckpt1", lambda: _run_stream(spark, src, root, str(tmp_path / "ckpt1"))
    )
    assert _estimates(latest_sketches(spark, root)) == batch
    # a fresh checkpoint against the same table is refused, writing nothing
    assert_refused(lambda: _run_stream(spark, src, root, str(tmp_path / "ckpt2")), root)


def _hh(df):
    return {
        (r.item, r.est_count, r.max_undercount) for r in df.collect()
    }


def test_streaming_freq_rollup_exact_regime_and_replay(spark, tmp_path):
    from fest_vibes_ai_etl_spark.streaming.monitors import (
        merged_heavy_hitters,
        start_freq_maintenance,
    )

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    for m in range(3):
        docs.filter(F.col("doc_id") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    root = str(tmp_path / "freqlog")

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_freq_maintenance(stream, root, str(tmp_path / ckpt))
        assert q.awaitTermination(120), "stream did not finish in 120s"

    run("ckpt1")
    streamed = _hh(merged_heavy_hitters(spark, root))

    # k=48 > vocabulary: every batch summary is exact (dec=0), so the
    # merged log must equal exact batch token counts with a zero bound.
    import re
    from collections import Counter

    pat = re.compile(r"[a-z0-9']+")
    true = Counter()
    for r in docs.collect():
        if r.text:
            true.update(pat.findall(r.text.lower()))
    assert streamed == {(t, n, 0) for t, n in true.items()}

    # at-least-once replay of the last batch: MG summaries add, so a
    # batch counted twice would double its items; the answer is unchanged
    replay_last_batch(tmp_path / "ckpt1", lambda: run("ckpt1"))
    assert _hh(merged_heavy_hitters(spark, root)) == streamed
    assert_refused(lambda: run("ckpt2"), root)


def test_streaming_kmv_matches_batch_and_replay_converges(spark, tmp_path):
    """KMV maintenance: streamed per-day k-sets equal the batch-built
    sketch exactly (trimmed union is associative), and an at-least-once
    replay leaves them unchanged."""
    from fest_vibes_ai_etl_spark.operators import kmvsketch
    from fest_vibes_ai_etl_spark.streaming.monitors import (
        latest_kmv,
        start_kmv_maintenance,
    )

    ev = table(spark, SF_DIR, "events").select("ts", "user_id")
    src = str(tmp_path / "src")
    ev.filter(F.col("user_id") % 3 == 0).coalesce(1).write.parquet(src)
    ev.filter(F.col("user_id") % 3 == 1).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("user_id") % 3 == 2).coalesce(1).write.mode("append").parquet(src)

    def run(ckpt):
        stream = (
            spark.readStream.schema("ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_kmv_maintenance(stream, str(tmp_path / "kmv"), ckpt)
        assert q.awaitTermination(120), "stream did not finish in 120s"

    run(str(tmp_path / "ck1"))
    streamed = {
        r.day.isoformat(): tuple(r.kset)
        for r in latest_kmv(spark, str(tmp_path / "kmv")).collect()
    }
    batch = {
        r.day.isoformat(): tuple(r.kset)
        for r in kmvsketch.k_smallest_hashes(
            ev.select(F.to_date("ts").alias("day"), "user_id"), ["day"], "user_id", 64
        )
        .groupBy("day")
        .agg(F.sort_array(F.collect_list("h")).alias("kset"))
        .collect()
    }
    assert streamed == batch and len(batch) > 0
    # at-least-once replay of the last batch
    replay_last_batch(tmp_path / "ck1", lambda: run(str(tmp_path / "ck1")))
    latest_rows = latest_kmv(spark, str(tmp_path / "kmv")).collect()
    streamed2 = {r.day.isoformat(): tuple(r.kset) for r in latest_rows}
    assert streamed2 == batch
    # one row per day: a partial landed twice would still fold to one
    # row, so count the log's files too — one partial per batch, and no
    # version kept beside it
    assert len(latest_rows) == len(batch)
    assert len(_data_files(tmp_path / "kmv")) == 3
    assert_refused(lambda: run(str(tmp_path / "ck2")), tmp_path / "kmv")


def _data_files(root):
    return [n for n in os.listdir(root) if n.endswith(".parquet") and n[0] not in "_."]
