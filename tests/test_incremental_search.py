"""Incremental lexical-search index: stream ≡ batch ranking, replay
convergence, crash heal, layout guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from fest_vibes_ai_etl_spark.operators.search import bm25_topk, build_postings
from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming import incremental_search as inc
from fest_vibes_ai_etl_spark.streaming.banded_index import PartitionedAppend
from fest_vibes_ai_etl_spark.streaming.state_store import start_stream

TERMS = ["merge", "hash", "window"]


def _slices(spark):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    return [
        docs.filter("doc_id < 60"),
        docs.filter("doc_id >= 40 AND doc_id < 100"),  # overlap: replay guard
        docs.filter("doc_id >= 80 AND doc_id < 140"),
    ]


def _batch_rank(spark, upto=140):
    docs = (
        table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(f"doc_id < {upto}")
    )
    postings, doclen = build_postings(docs)
    return [tuple(r) for r in bm25_topk(postings, doclen, TERMS, topn=10).collect()]


def test_stream_index_ranks_like_batch(spark, tmp_path):
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    for i, b in enumerate(_slices(spark)):
        proc(b, i)
    got = [tuple(r) for r in inc.bm25_over_index(spark, idx, TERMS, topn=10).collect()]
    assert got == _batch_rank(spark)
    # doclen holds each doc exactly once despite the overlapping batches
    dl = spark.read.parquet(idx + "/doclen")
    assert dl.count() == dl.select("doc_id").distinct().count()


def test_stream_index_replay_convergent(spark, tmp_path):
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    batches = _slices(spark)
    for i, b in enumerate(batches):
        proc(b, i)
    before_post = spark.read.parquet(idx + "/postings").count()
    before_rank = [
        tuple(r) for r in inc.bm25_over_index(spark, idx, TERMS, topn=10).collect()
    ]
    # replay the last batch (same batch id, fresh processor = restart)
    proc2 = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc2(batches[2], 2)
    assert spark.read.parquet(idx + "/postings").count() == before_post
    after_rank = [
        tuple(r) for r in inc.bm25_over_index(spark, idx, TERMS, topn=10).collect()
    ]
    assert after_rank == before_rank


def _assert_converged(spark, idx, upto=140):
    got = [tuple(r) for r in inc.bm25_over_index(spark, idx, TERMS, topn=10).collect()]
    assert got == _batch_rank(spark, upto)
    dl = spark.read.parquet(idx + "/doclen")
    assert dl.count() == dl.select("doc_id").distinct().count()
    post = spark.read.parquet(idx + "/postings")
    assert post.count() == post.select("term", "doc_id").distinct().count()


def test_stream_index_crash_in_postings_append_heals(spark, tmp_path, monkeypatch):
    """Die during the postings append (before doclen commits): no marker
    is set yet, so the replay converges on the postings append's replay
    idempotence alone."""
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    batches = _slices(spark)
    proc(batches[0], 0)
    calls = {"n": 0}
    real = PartitionedAppend.append

    def dying(self, *a, **kw):
        calls["n"] += 1
        real(self, *a, **kw)  # the files LAND (worst case), then the driver dies
        raise RuntimeError("injected crash in postings append")

    monkeypatch.setattr(PartitionedAppend, "append", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        proc(batches[1], 1)
    assert calls["n"] == 1
    monkeypatch.setattr(PartitionedAppend, "append", real)
    proc2 = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc2(batches[1], 1)
    proc2(batches[2], 2)
    _assert_converged(spark, idx)


def test_stream_index_crash_between_doclen_and_docidx_heals(spark, tmp_path, monkeypatch):
    """Die inside the marker window (doclen committed, sidecar append
    never ran): the replay's heal must fill the sidecar without
    duplicating postings or doclen."""
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    batches = _slices(spark)
    proc(batches[0], 0)
    from fest_vibes_ai_etl_spark.streaming.banded_index import BandedFingerprintIndex

    real_append = BandedFingerprintIndex.append

    def dying(self, pairs):
        raise RuntimeError("injected crash in docidx append")

    monkeypatch.setattr(BandedFingerprintIndex, "append", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        proc(batches[1], 1)
    monkeypatch.setattr(BandedFingerprintIndex, "append", real_append)
    proc2 = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc2(batches[1], 1)
    proc2(batches[2], 2)
    _assert_converged(spark, idx)


def test_stream_index_batch_id_reuse_with_new_content_not_skipped(spark, tmp_path):
    """A re-pointed checkpoint restarts batch ids at 0 against an existing
    index. The append id carries a raw-batch content fingerprint, so the
    new batch's postings must NOT be skipped as already-landed."""
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    for i, b in enumerate(_slices(spark)):
        proc(b, i)
    # a NEW driver, batch ids restarting at 0, with new docs
    proc2 = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc2(docs.filter("doc_id >= 140 AND doc_id < 200"), 0)
    _assert_converged(spark, idx, upto=200)


def test_stream_index_committer_fallback_replay_idempotent(spark, tmp_path, monkeypatch):
    """Untrusted filesystem ⇒ committer fallback: replay idempotence then
    rests on the explicit (term, doc) anti-join over the batch's buckets."""
    from fest_vibes_ai_etl_spark.streaming import banded_index as bi

    real_resolve = bi._resolve_direct_destination
    monkeypatch.setattr(
        bi,
        "_resolve_direct_destination",
        lambda spark, path: (None, None, "forced-untrusted (test)"),
    )
    try:
        idx = str(tmp_path / "sidx")
        batches = _slices(spark)
        proc = inc.make_search_index_processor(idx, n_term_buckets=8)
        for i, b in enumerate(batches):
            proc(b, i)
        # replay the last batch on a fresh processor
        proc2 = inc.make_search_index_processor(idx, n_term_buckets=8)
        proc2(batches[2], 2)
        _assert_converged(spark, idx)
    finally:
        monkeypatch.setattr(bi, "_resolve_direct_destination", real_resolve)


def test_stream_index_layout_guard_refuses_bucket_change(spark, tmp_path):
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc(_slices(spark)[0], 0)
    bad = inc.make_search_index_processor(idx, n_term_buckets=16)
    with pytest.raises(inc.SearchIndexLayoutError, match="n_term_buckets: stored 8"):
        bad(_slices(spark)[1], 1)
    # probe under the persisted layout still works
    assert inc.bm25_over_index(spark, idx, TERMS, topn=5).count() == 5


def test_stream_wrapper_end_to_end(spark, tmp_path):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    src, idx = str(tmp_path / "src"), str(tmp_path / "sidx")
    docs.filter("doc_id < 60").coalesce(1).write.parquet(src)
    docs.filter("doc_id >= 40 AND doc_id < 140").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_stream(
        inc.make_search_index_processor(idx, n_term_buckets=8),
        stream,
        str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = [tuple(r) for r in inc.bm25_over_index(spark, idx, TERMS, topn=10).collect()]
    assert got == _batch_rank(spark)


def test_stream_index_intra_batch_duplicate_id_deterministic(spark, tmp_path, monkeypatch):
    """One micro-batch carrying the same doc_id with DIFFERING texts: the
    winner must be deterministic (min text), and a crashed-then-replayed
    batch — even one whose rows arrive reordered — must converge on the
    same winner's postings, never a mix of the two texts' postings under
    one landed/unlanded bucket split."""
    rows = [(1, "zz yy xx ww"), (1, "aa bb merge"), (2, "hash merge window")]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    calls = {"n": 0}
    real = PartitionedAppend.append

    def dying(self, *a, **kw):
        calls["n"] += 1
        real(self, *a, **kw)  # worst case: the winner's files LAND, then we die
        raise RuntimeError("injected crash in postings append")

    monkeypatch.setattr(PartitionedAppend, "append", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        proc(batch, 0)
    monkeypatch.setattr(PartitionedAppend, "append", real)
    # replay: fresh processor (restart), same batch id, rows REORDERED —
    # the deterministic winner + content fingerprint must re-derive the
    # same append id and skip the landed buckets instead of filling the
    # holes with the other text's postings
    replay = spark.createDataFrame(
        [rows[1], rows[2], rows[0]], "doc_id long, text string"
    )
    proc2 = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc2(replay, 0)
    post = spark.read.parquet(idx + "/postings")
    terms_1 = sorted(
        r.term for r in post.filter("doc_id = 1").select("term").distinct().collect()
    )
    assert terms_1 == ["aa", "bb", "merge"]  # min-text winner, no mixing
    assert post.count() == post.select("term", "doc_id").distinct().count()
    dl = [tuple(r) for r in spark.read.parquet(idx + "/doclen").orderBy("doc_id").collect()]
    assert dl == [(1, 3), (2, 3)]


def test_stream_index_repointed_checkpoint_heal_no_collision(spark, tmp_path, monkeypatch):
    """The nastiest recovery shape: a batch dies inside the marker window
    (postings landed, sidecar not), then the checkpoint is RE-POINTED —
    the replacement batch reuses batch id 0 and carries the crashed docs
    PLUS genuinely new ones. The heal must not duplicate the landed
    postings (their append id is unknowable) and must not make the main
    append's same-band files skip (heal and main use distinct ids)."""
    from fest_vibes_ai_etl_spark.streaming.banded_index import BandedFingerprintIndex

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc(docs.filter("doc_id < 40"), 0)

    real_append = BandedFingerprintIndex.append

    def dying(self, pairs):
        raise RuntimeError("injected crash in docidx append")

    monkeypatch.setattr(BandedFingerprintIndex, "append", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        proc(docs.filter("doc_id >= 40 AND doc_id < 80"), 1)
    monkeypatch.setattr(BandedFingerprintIndex, "append", real_append)

    # re-pointed checkpoint: fresh processor, batch ids restart at 0, the
    # batch holds the crashed docs AND new ones
    proc2 = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc2(docs.filter("doc_id >= 40 AND doc_id < 120"), 0)
    proc2(docs.filter("doc_id >= 120 AND doc_id < 140"), 1)

    got = [tuple(r) for r in inc.bm25_over_index(spark, idx, TERMS, topn=10).collect()]
    assert got == _batch_rank(spark)
    post = spark.read.parquet(idx + "/postings")
    assert post.count() == post.select("term", "doc_id").distinct().count()
    dl = spark.read.parquet(idx + "/doclen")
    assert dl.count() == dl.select("doc_id").distinct().count()
