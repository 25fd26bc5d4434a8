"""Incremental lexical-search index: stream ≡ batch ranking, replay
convergence, crash heal, layout guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from fest_vibes_ai_etl_spark.operators.search import bm25_topk, build_postings
from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming import incremental_search as inc
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
    # the forward sidecar holds exactly the postings rows, each once
    rows = [tuple(r) for r in post.select("term", "doc_id", "tf").collect()]
    fwd = [
        tuple(r)
        for r in spark.read.parquet(idx + "/forward")
        .select("term", "doc_id", "tf")
        .collect()
    ]
    assert len(fwd) == len(set(fwd))
    assert set(fwd) == set(rows)


def test_stream_index_crash_in_postings_append_heals(spark, tmp_path, monkeypatch):
    """Die during the fused postings + forward write (before doclen
    commits): no marker is set yet, so the replay converges on the
    write's replay idempotence alone."""
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    batches = _slices(spark)
    proc(batches[0], 0)
    calls = {"n": 0}
    real = inc.append_partitioned

    def dying(*a, **kw):
        calls["n"] += 1
        real(*a, **kw)  # the files LAND (worst case), then the driver dies
        raise RuntimeError("injected crash in postings append")

    monkeypatch.setattr(inc, "append_partitioned", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        proc(batches[1], 1)
    assert calls["n"] == 1
    monkeypatch.setattr(inc, "append_partitioned", real)
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
    real = inc.append_partitioned

    def dying(*a, **kw):
        calls["n"] += 1
        real(*a, **kw)  # worst case: the winner's files LAND, then we die
        raise RuntimeError("injected crash in postings append")

    monkeypatch.setattr(inc, "append_partitioned", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        proc(batch, 0)
    monkeypatch.setattr(inc, "append_partitioned", real)
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


def _tasks_run(sc, job_ids) -> int:
    """Tasks the jobs' stages ran (skipped stages ran none)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
    stages = set()
    for j in job_ids:
        stages.update(sc.statusTracker().getJobInfo(j).stageIds)
    infos = [sc.statusTracker().getStageInfo(s) for s in stages]
    return sum(i.numCompletedTasks for i in infos if i is not None)


# One steady batch through start_stream (availableNow, the deployed
# path) at the spark fixture's settings (local[4], 8 shuffle
# partitions), measured as (jobs, tasks). With adaptive query execution
# on — Spark 4 keeps it on for a stateless micro-batch: (16, 98) when the
# postings and forward rows took one write job each at a fixed 16 write
# tasks and the per-batch frame kept the shuffle's 8 partitions; (15, 17)
# with the batch-sized frame and one fused, batch-sized write. With AQE
# off, as in a micro-batch of a stateful query: (8, 104), then (7, 29);
# a write shuffle left without a count reads (7, 43) there. A second
# write job, a fixed or an unsized write count crosses a ceiling.
STEADY_CEILINGS = {True: (15, 30), False: (7, 36)}


@pytest.mark.parametrize("aqe", [True, False], ids=["aqe", "no_aqe"])
def test_steady_batch_jobs_and_tasks_bounded(spark, tmp_path, aqe):
    """Regression canary for the search stream's per-batch cost: a
    steady-state micro-batch submits a bounded number of Spark jobs AND
    runs a bounded number of tasks, with or without AQE. Catches the
    postings and forward writes coming un-fused (one more job), a fixed
    write-task count coming back, a write whose count is left to AQE, or
    the per-batch frame losing its batch-sized partitioning (every stage
    over it back at spark.sql.shuffle.partitions tasks)."""
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    for lo in (0, 40, 80):
        docs.filter(f"doc_id >= {lo} AND doc_id < {lo + 40}").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    proc = inc.make_search_index_processor(str(tmp_path / "sidx"), n_term_buckets=8)
    sc = spark.sparkContext
    batch_jobs = {}

    def counted(batch_df, batch_id):
        # the stream runs each micro-batch under its own job group
        group = sc.getLocalProperty("spark.jobGroup.id")
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        proc(batch_df, batch_id)
        after = set(sc.statusTracker().getJobIdsForGroup(group))
        batch_jobs[batch_id] = sorted(after - before)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
    try:
        q = start_stream(counted, stream, str(tmp_path / "ckpt"))
        assert q.awaitTermination(300), "stream did not finish in 300s"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert sorted(batch_jobs) == [0, 1, 2]
    jobs = batch_jobs[2]  # batches 0 and 1 create and warm the index
    tasks = _tasks_run(sc, jobs)
    max_jobs, max_tasks = STEADY_CEILINGS[aqe]
    assert 0 < len(jobs) <= max_jobs, f"{len(jobs)} Spark jobs"
    assert 0 < tasks <= max_tasks, f"{tasks} tasks"


def test_steady_batch_evaluates_its_input_once(spark, tmp_path):
    """A steady micro-batch evaluates its input once: the content pin of
    the append id, the replay guard's touched bands and every write read
    the stream's one persisted, batch-sized signatures frame. A counting
    UDF over the text sees each input row exactly once."""
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    proc = inc.make_search_index_processor(str(tmp_path / "sidx"), n_term_buckets=8)
    proc(docs.filter("doc_id < 40"), 0)
    calls = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(text):
        calls.add(1)
        return text

    rows = docs.filter("doc_id >= 40 AND doc_id < 80")
    n = rows.count()
    proc(rows.withColumn("text", counted("text")), 1)
    assert n > 0 and calls.value == n, f"{calls.value} UDF calls for {n} rows"
