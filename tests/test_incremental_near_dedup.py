"""Incremental NEAR-dup corpus dedup: cross-batch near-duplicate removal
(MinHash-LSH candidates + exact Jaccard decision, history = corpus) and
replay convergence."""

from __future__ import annotations

from conftest import SF_DIR

from fest_vibes_ai_etl_spark.operators import dedup
from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming.incremental_near_dedup import (
    make_near_dedup_processor,
)
from fest_vibes_ai_etl_spark.streaming.state_store import start_stream

THRESHOLD = 0.2


def _run(spark, src, corpus, ckpt):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_stream(
        make_near_dedup_processor(corpus, threshold=THRESHOLD), stream, ckpt
    )
    assert q.awaitTermination(180), "stream did not finish in 180s"


def test_incremental_near_dedup_across_batches(spark, tmp_path):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    src, corpus = str(tmp_path / "src"), str(tmp_path / "corpus")
    # overlapping slices: exact dups across batches AND planted near-dups
    # split across batch boundaries (the documents table contains pairs with
    # J >= 0.889 — see dedup_ngram_jaccard)
    docs.filter("doc_id < 200").coalesce(1).write.parquet(src)
    docs.filter("doc_id >= 150 AND doc_id < 350").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id >= 300").coalesce(1).write.mode("append").parquet(src)

    _run(spark, src, corpus, str(tmp_path / "ckpt1"))
    stored = spark.read.parquet(corpus)
    n0 = stored.count()

    # invariant 1: no two stored docs are exact duplicates
    assert stored.select("fp").distinct().count() == n0

    # invariant 2: no two stored docs are near-duplicates — the exhaustive
    # exact-Jaccard pair scan over the stored corpus must come up empty
    leftover = dedup.ngram_jaccard_pairs(
        stored, "doc_id", "text", k=3, threshold=THRESHOLD
    ).count()
    assert leftover == 0, f"{leftover} near-dup pairs survived"

    # invariant 3: every original doc is represented — it survived, or some
    # stored doc is its exact or near duplicate (no over-deletion): compare
    # against the batch survivor count from the same operator family
    batch_pairs = dedup.minhash_lsh_exact_pairs(
        docs, "doc_id", "text", k=3, threshold=THRESHOLD
    )
    victims = {r.b_id for r in batch_pairs.collect()}
    exact_groups = docs.count() - docs.select("text").distinct().count()
    # stored size can differ from the batch greedy count only through
    # transitive/group effects; it must sit between (unique texts - near
    # pairs) and unique texts
    n_unique = docs.select("text").distinct().count()
    assert n0 <= n_unique
    assert n0 >= n_unique - len(victims) - exact_groups

    # replay under a fresh checkpoint appends nothing (convergent)
    _run(spark, src, corpus, str(tmp_path / "ckpt2"))
    assert spark.read.parquet(corpus).count() == n0


def test_near_metrics_reports_verify_gate(spark, tmp_path):
    """The metrics dict must count batches, how often the emptiness gate
    actually launched the exact-Jaccard verify (the stream's one
    candidate-gated linear term), and the candidate pairs scored — the
    observability the SCALE.md trigger-rate measurement runs on."""
    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a slow waltz in the crowded hall tonight"
    )
    metrics: dict = {}
    corpus = str(tmp_path / "corpus")
    proc = make_near_dedup_processor(
        corpus, threshold=THRESHOLD, metrics=metrics
    )
    proc(
        spark.createDataFrame([(1, base)], "doc_id long, text string"), 0
    )
    # novel batch: no shared band hash with history -> gate stays closed
    proc(
        spark.createDataFrame(
            [(2, "completely different vocabulary about spark query plans "
                 "and shuffle partitions in a distributed engine")],
            "doc_id long, text string",
        ),
        1,
    )
    assert metrics.get("verify_launched", 0) == 0
    # near-dup batch: bands collide -> the gate opens exactly once
    proc(
        spark.createDataFrame(
            [(3, base + " encore")], "doc_id long, text string"
        ),
        2,
    )
    assert metrics["batches"] == 3
    assert metrics["verify_launched"] == 1
    assert metrics["verify_cand_pairs"] >= 1
    # and the near-dup was actually dropped by the launched verify
    ids = {
        r.doc_id
        for r in spark.read.parquet(corpus).select("doc_id").collect()
    }
    assert ids == {1, 2}
