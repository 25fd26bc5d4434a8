"""Incremental SUBSTRING-level corpus dedup: cross-batch duplicated-passage
removal (winnowed-fingerprint overlap, history = corpus) and replay
convergence."""

from __future__ import annotations

from conftest import SF_DIR

from fest_vibes_ai_etl_spark.operators import dedup
from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming.incremental_span_dedup import (
    make_span_dedup_processor,
)
from fest_vibes_ai_etl_spark.streaming.state_store import start_stream

K, W, MIN_SHARED = 20, 15, 3


def _run(spark, src, corpus, ckpt):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_stream(
        make_span_dedup_processor(corpus, k=K, w=W, min_shared=MIN_SHARED),
        stream,
        ckpt,
    )
    assert q.awaitTermination(180), "stream did not finish in 180s"


def test_incremental_span_dedup_across_batches(spark, tmp_path):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    src, corpus = str(tmp_path / "src"), str(tmp_path / "corpus")
    # overlapping slices: exact dups across batches AND planted span-dups
    # split across batch boundaries (dedup_duplicate_spans finds pairs in
    # this table at these parameters)
    docs.filter("doc_id < 200").coalesce(1).write.parquet(src)
    docs.filter("doc_id >= 150 AND doc_id < 350").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id >= 300").coalesce(1).write.mode("append").parquet(src)

    _run(spark, src, corpus, str(tmp_path / "ckpt1"))
    stored = spark.read.parquet(corpus)
    n0 = stored.count()

    # invariant 1: no two stored docs are exact duplicates
    assert stored.select("fp").distinct().count() == n0

    # invariant 2: no two stored docs share a duplicated passage — the
    # batch pair miner over the stored corpus must come up empty
    leftover = dedup.duplicate_span_pairs(
        stored, "doc_id", "text", k=K, w=W, min_shared=MIN_SHARED
    ).count()
    assert leftover == 0, f"{leftover} span-dup pairs survived"

    # invariant 3: no over-deletion — stored size sits between
    # (unique texts − span pairs) and unique texts
    n_unique = docs.select("text").distinct().count()
    pair_victims = {
        r.b_id
        for r in dedup.duplicate_span_pairs(
            docs, "doc_id", "text", k=K, w=W, min_shared=MIN_SHARED
        ).collect()
    }
    exact_groups = docs.count() - n_unique
    assert n0 <= n_unique
    assert n0 >= n_unique - len(pair_victims) - exact_groups

    # replay under a fresh checkpoint appends nothing (convergent)
    _run(spark, src, corpus, str(tmp_path / "ckpt2"))
    assert spark.read.parquet(corpus).count() == n0


def test_span_dedup_catches_cross_batch_passage(spark, tmp_path):
    # planted: batch-2 doc embeds a 60-char passage from a batch-1 doc in
    # otherwise different text — exact dedup and whole-doc Jaccard both
    # miss it; the span rule must drop it
    passage = "the quick brown fox jumps over the lazy dog near the river bank"
    b1 = [(1, "alpha beta " + passage + " gamma delta epsilon"),
          (2, "unrelated first batch content about query engines and storage")]
    b2 = [(10, "one two three " + passage + " four five six seven"),
          (11, "totally novel second batch document with fresh vocabulary")]
    src, corpus = str(tmp_path / "src"), str(tmp_path / "corpus")
    spark.createDataFrame(b1, "doc_id long, text string").coalesce(1).write.parquet(src)
    spark.createDataFrame(b2, "doc_id long, text string").coalesce(1).write.mode("append").parquet(src)

    _run(spark, src, corpus, str(tmp_path / "ckpt"))
    kept = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    assert kept == {1, 2, 11}  # 10 dropped: shares the passage with 1


def test_null_text_rows_survive_once_and_replay_converges(spark, tmp_path):
    # null-text rows are neither exact nor span duplicates of anything —
    # they must be appended EXACTLY ONCE (null fp would previously fall
    # out of the survivor semi-join and vanish; and with no joinable key,
    # replay would re-append them)
    rows1 = [(1, None), (2, "some perfectly ordinary first-batch document text")]
    rows2 = [(3, None), (4, "a different second-batch document with fresh words")]
    src, corpus = str(tmp_path / "src"), str(tmp_path / "corpus")
    spark.createDataFrame(rows1, "doc_id long, text string").coalesce(1).write.parquet(src)
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(1).write.mode("append").parquet(src)

    _run(spark, src, corpus, str(tmp_path / "ckpt1"))
    stored = spark.read.parquet(corpus)
    kept = {r.doc_id for r in stored.select("doc_id").collect()}
    # doc 1 kept (first null-text); doc 3 is an exact dup of it (both null)
    assert kept == {1, 2, 4}
    _run(spark, src, corpus, str(tmp_path / "ckpt2"))
    assert spark.read.parquet(corpus).count() == 3


def test_oversized_batch_falls_back_to_double_evaluation(spark, tmp_path, monkeypatch):
    """The single-evaluation rebuild collects the batch's survivor ids to
    the driver — safe for real micro-batches but NOT for a bulk backfill
    delivered as one availableNow batch. Above the gate the processor
    must fall back to the pre-round-11 double evaluation and still
    produce the identical corpus."""
    from fest_vibes_ai_etl_spark.streaming import dedup_stream as idd

    docs = [
        (1, "alpha beta the quick brown fox jumps over the lazy dog one"),
        (2, "totally novel content about storage engines and query planners"),
        (3, "alpha beta the quick brown fox jumps over the lazy dog one"),
        (4, "fourth separate document with its own words entirely"),
    ]
    outs = {}
    for gate, label in ((0, "fallback"), (5_000_000, "single_eval")):
        monkeypatch.setattr(idd, "_SINGLE_EVAL_MAX_IDS", gate)
        corpus = str(tmp_path / f"corpus_{label}")
        process = make_span_dedup_processor(corpus, n_bands=8)
        process(spark.createDataFrame(docs, "doc_id long, text string"), 0)
        process(
            spark.createDataFrame(
                [(10, "alpha beta the quick brown fox jumps over the lazy dog one"),
                 (11, "a genuinely fresh second batch document")],
                "doc_id long, text string",
            ),
            1,
        )
        outs[label] = sorted(
            r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()
        )
    assert outs["fallback"] == outs["single_eval"]
    assert 10 not in outs["fallback"]  # exact dup of doc 1's text dropped
    assert 11 in outs["fallback"]
