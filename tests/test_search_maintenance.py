"""Incremental search index maintenance: postings/doclen small-file
compaction — bounded file counts, untouched buckets byte-identical,
ranking invariant, crash-mid-merge heals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401

from conftest import SF_DIR

from fest_vibes_ai_etl_spark import fsio
from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming import incremental_search as inc
from fest_vibes_ai_etl_spark.streaming import state_store

TERMS = ["merge", "hash", "window"]


def _docs(spark, lo, hi):
    return (
        table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(f"doc_id >= {lo} AND doc_id < {hi}")
    )


def _rank(spark, idx):
    return [
        tuple(r) for r in inc.bm25_over_index(spark, idx, TERMS, topn=10).collect()
    ]


def _file_census(spark, d):
    """{name: size} of visible parquet files in one directory."""
    jvm = spark._jvm
    jp = jvm.org.apache.hadoop.fs.Path(d)
    fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jp):
        return {}
    return {
        st.getPath().getName(): st.getLen()
        for st in fs.listStatus(jp)
        if st.getPath().getName().endswith(".parquet")
        and not st.getPath().getName().startswith(("_", "."))
    }


def test_maintenance_bounds_files_preserves_ranking_and_untouched_buckets(
    spark, tmp_path
):
    """(a) per-directory file count bounded after many batches, (b) a
    bucket the later batches never touch keeps byte-identical files,
    (c) ranking identical before/after maintenance. Synthetic vocab so
    the cold/hot bucket split is deterministic."""
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(
        idx, n_term_buckets=64, maintain_every=None
    )
    # batch 0: cold vocabulary no later batch touches
    cold = spark.createDataFrame(
        [(9001, "coldone coldtwo"), (9002, "coldthree coldone")],
        "doc_id long, text string",
    )
    proc(cold, 0)
    pdir = idx + "/postings"
    cold_buckets = {
        b: _file_census(spark, f"{pdir}/tb={b}")
        for b in [
            r[0]
            for r in spark.read.parquet(pdir).select("tb").distinct().collect()
        ]
    }
    # batches 1..12: two-term hot vocabulary — each batch appends one file
    # into the hot buckets only
    for i in range(1, 13):
        hot = spark.createDataFrame(
            [(i * 2, "qqhot qqwarm"), (i * 2 + 1, "qqhot qqhot qqwarm")],
            "doc_id long, text string",
        )
        proc(hot, i)
    terms = ["qqhot", "coldone"]
    before = [
        tuple(r) for r in inc.bm25_over_index(spark, idx, terms, topn=10).collect()
    ]
    dl_files = len(_file_census(spark, idx + "/doclen"))
    assert dl_files >= 13  # at least one per batch: the growth being fixed
    stats = inc.maintain_search_index(spark, idx, max_files_per_bucket=3)
    assert stats["buckets_compacted"] > 0
    assert len(_file_census(spark, idx + "/doclen")) == 1
    for b in [
        r[0]
        for r in spark.read.parquet(pdir).select("tb").distinct().collect()
    ]:
        census = _file_census(spark, f"{pdir}/tb={b}")
        assert len(census) <= 4, f"bucket {b} holds {len(census)} files"
    # cold buckets the hot batches never touched: byte-identical files
    untouched = [
        b
        for b, c in cold_buckets.items()
        if _file_census(spark, f"{pdir}/tb={b}") == c
    ]
    assert untouched, "every cold bucket was rewritten — (b) unexercised"
    after = [
        tuple(r) for r in inc.bm25_over_index(spark, idx, terms, topn=10).collect()
    ]
    assert after == before
    # idempotent: a second pass finds nothing to do
    again = inc.maintain_search_index(spark, idx, max_files_per_bucket=3)
    assert again == {
        "buckets_compacted": 0,
        "files_merged": 0,
        "tombstone_files_merged": 0,
        "revisions_absorbed": 0,
    }


def test_processor_maintains_inline_and_stays_correct(spark, tmp_path):
    """The processor's own maintenance tick (maintain_every) keeps the
    stream ≡ batch ranking contract while bounding doclen files."""
    from fest_vibes_ai_etl_spark.operators.search import bm25_topk, build_postings

    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(
        idx, n_term_buckets=8, maintain_every=5, maintain_max_files=3
    )
    for i in range(10):  # ticks after batches 5 and 10
        proc(_docs(spark, i * 12, (i + 1) * 12), i)
    postings, doclen = build_postings(_docs(spark, 0, 120))
    want = [tuple(r) for r in bm25_topk(postings, doclen, TERMS, topn=10).collect()]
    assert _rank(spark, idx) == want
    # batch 10's tick merged everything small: one doclen segment, and
    # every postings bucket at/under the threshold
    assert len(_file_census(spark, idx + "/doclen")) == 1
    for b in range(8):
        census = _file_census(spark, idx + f"/postings/tb={b}")
        assert len(census) <= 3, f"bucket {b} holds {len(census)} files"
    post = spark.read.parquet(idx + "/postings")
    assert post.count() == post.select("term", "doc_id").distinct().count()


def test_crash_before_rename_rolls_forward_from_stage(spark, tmp_path, monkeypatch):
    """Die after the manifest is journaled but before the merged segment
    becomes visible: the stage holds every final, so recovery rolls
    FORWARD (the merge completes, ranking unchanged), and the next
    maintenance merges what the dead pass never reached."""
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8, maintain_every=None)
    for i in range(6):
        proc(_docs(spark, i * 10, (i + 1) * 10), i)
    before = _rank(spark, idx)
    real = fsio.write_json

    def dying(spark_, path, obj):
        real(spark_, path, obj)
        if path.endswith(state_store._MANIFEST):
            raise RuntimeError("injected crash after manifest")

    monkeypatch.setattr(fsio, "write_json", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.maintain_search_index(spark, idx, max_files_per_bucket=1)
    monkeypatch.setattr(fsio, "write_json", real)
    # probe heals (roll-forward from the stage) and ranks identically
    assert _rank(spark, idx) == before
    stats = inc.maintain_search_index(spark, idx, max_files_per_bucket=1)
    assert stats["files_merged"] > 0
    assert _rank(spark, idx) == before


def test_crash_after_rename_rolls_forward(spark, tmp_path, monkeypatch):
    """Die after the merged segment is visible but before the inputs are
    deleted — the window where a raw reader would double-count. Recovery
    (run by the probe) must roll FORWARD: inputs deleted, ranking and
    row counts exact."""
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8, maintain_every=None)
    for i in range(6):
        proc(_docs(spark, i * 10, (i + 1) * 10), i)
    before = _rank(spark, idx)
    real = state_store._delete_inputs
    calls = {"n": 0}

    def dying(spark_, d, names):
        calls["n"] += 1
        raise RuntimeError("injected crash before input deletes")

    monkeypatch.setattr(state_store, "_delete_inputs", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.maintain_search_index(spark, idx, max_files_per_bucket=1)
    assert calls["n"] == 1
    monkeypatch.setattr(state_store, "_delete_inputs", real)
    # the open-time heal rolls forward (the probe heals only its own
    # buckets, so heal everything first for the raw-read assertions)
    inc.recover_search_index(spark, idx)
    assert _rank(spark, idx) == before
    post = spark.read.parquet(idx + "/postings")
    assert post.count() == post.select("term", "doc_id").distinct().count()
    dl = spark.read.parquet(idx + "/doclen")
    assert dl.count() == dl.select("doc_id").distinct().count()


def test_delete_inputs_tolerates_missing_files(spark, tmp_path):
    """The input deletes skip no stat: a list naming a file that is
    already gone (a concurrent recovery deleted it) deletes the present
    ones and does not raise."""
    import os

    d = tmp_path / "d"
    d.mkdir()
    for name in ("a.parquet", "c.parquet"):
        (d / name).write_bytes(b"x")
    state_store._delete_inputs(spark, str(d), ["a.parquet", "b.parquet", "c.parquet"])
    assert os.listdir(d) == []


def test_erase_writes_segments_by_bytes(spark, tmp_path):
    """The erase form rewrites every file, graduated or not, into
    ``max(1, bytes // target_bytes)`` segments (capped by the input
    splits), not one; the size-tiered merge keeps writing one."""
    import os

    def files(d):
        return [n for n in os.listdir(d) if n.endswith(".parquet") and n[0] not in "_."]

    for erase, want in ((True, 3), (False, 1)):
        d = str(tmp_path / f"erase_{erase}")
        for i in range(3):
            spark.range(i * 10, i * 10 + 10, 1, 1).write.mode("append").parquet(d)
        target = 1 if erase else 1 << 20
        n = state_store.compact_small_files(
            spark, d, max_files=1, target_bytes=target, erase=erase,
            exclude=spark.range(0, 1).select(F.col("id")), exclude_cols=["id"],
        )
        assert n == 3
        assert len(files(d)) == want
        assert sorted(r.id for r in spark.read.parquet(d).collect()) == list(range(1, 30))
        assert not os.path.exists(d + "/_compact.json")
