"""The tombstone set's OWN lifecycle (round 13): erase requests must not
grow an unbounded file census (delete-time compaction through the shared
journaled compactor) and must not grow an unbounded BROADCAST (the
bounded-broadcast escape: past a byte threshold the anti-joins degrade to
a shuffle join instead of a driver OOM). Reference behavior to match:
deletes never degrade reads (/root/reference/src/loader/service.py:702-806
keeps Postgres consistent with no side list at all)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fest_vibes_ai_etl_spark.streaming import tombstones as tb
from fest_vibes_ai_etl_spark.streaming.tombstones import (
    delete_from_dedup_corpus,
    maintain_tombstones,
    read_dedup_corpus,
    read_tombstones,
    tombstones_path,
)


def _visible_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [
        n
        for n in os.listdir(path)
        if not n.startswith(("_", ".")) and n.endswith(".parquet")
    ]


def _corpus(spark, path: str, n: int = 200) -> None:
    (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text body "), F.col("id")).alias("text"),
        )
        .withColumn("fp", F.md5(F.col("text").cast("binary")))
        .coalesce(2)
        .write.mode("overwrite")
        .parquet(path)
    )


def test_erase_requests_do_not_grow_file_census(spark, tmp_path):
    """30 one-id erase requests must leave a BOUNDED tombstone directory:
    delete-time maintenance merges past the threshold, so the census never
    exceeds max_files+1 — the failure class round 12 closed for postings,
    closed here for the delete machinery itself."""
    corpus = str(tmp_path / "corpus")
    _corpus(spark, corpus)
    for i in range(30):
        delete_from_dedup_corpus(spark, corpus, [i])
    files = _visible_files(tombstones_path(corpus))
    assert 0 < len(files) <= 9, files
    # logical state intact through every merge: all 30 ids suppressed
    left = read_dedup_corpus(spark, corpus)
    assert left.count() == 200 - 30
    assert left.filter(F.col("doc_id") < 30).count() == 0
    # and the set itself reads back as exactly the 30 erased ids
    got = {r[0] for r in read_tombstones(spark, corpus, cols=["doc_id"]).collect()}
    assert got == set(range(30))


def test_maintain_tombstones_dedups_rows(spark, tmp_path):
    """Re-issued deletes append duplicate rows (idempotent by read-side
    distinct); maintenance's rewrite folds them physically."""
    corpus = str(tmp_path / "corpus")
    _corpus(spark, corpus)
    for _ in range(12):
        delete_from_dedup_corpus(spark, corpus, [1, 2, 3])
    tdir = tombstones_path(corpus)
    merged = maintain_tombstones(spark, corpus, max_files=0)
    assert merged >= 0  # may already have folded at delete time
    raw = spark.read.parquet(tdir)
    # physically deduplicated: one row per (id, fp) pair
    assert raw.count() == raw.distinct().count() == 3
    assert {r[0] for r in read_tombstones(spark, corpus, cols=["doc_id"]).collect()} == {1, 2, 3}


def test_broadcast_escape_engages_past_threshold(spark, tmp_path, monkeypatch):
    """Below the byte threshold the returned frame carries a broadcast
    hint; past it the hint is withheld and the anti-join plans as a
    shuffle join — the escape that keeps a GDPR-scale suppression list
    off the driver."""
    corpus = str(tmp_path / "corpus")
    _corpus(spark, corpus)
    delete_from_dedup_corpus(spark, corpus, list(range(50)))

    def plan_of(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # small set: hinted → broadcast strategy in the join
    hinted = read_dedup_corpus(spark, corpus)
    assert "strategy=broadcast" in plan_of(hinted)
    assert hinted.count() == 150

    # force the escape: same set, threshold of one byte
    monkeypatch.setattr(tb, "TOMBSTONE_BROADCAST_MAX_BYTES", 1)
    escaped = read_dedup_corpus(spark, corpus)
    assert "strategy=broadcast" not in plan_of(escaped)
    # identical logical result either way
    assert escaped.count() == 150
    assert escaped.filter(F.col("doc_id") < 50).count() == 0


def test_escape_applies_to_search_probe(spark, tmp_path, monkeypatch):
    """The lexical probe path (bm25_over_index → pruned_postings/doclen
    anti-joins) honors the escape too: results identical with the hint
    withheld."""
    from fest_vibes_ai_etl_spark.operators.search import (
        load_or_build_postings_store,
    )
    from fest_vibes_ai_etl_spark.streaming.incremental_search import (
        bm25_over_index,
        delete_from_search_index,
    )

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("merge hash window alpha beta doc "), F.col("id")
        ).alias("text"),
    )
    store = str(tmp_path / "store")
    load_or_build_postings_store(
        spark, docs, str(tmp_path), store_path=store
    )
    delete_from_search_index(spark, store, [0, 1, 2])
    terms = ["merge", "hash"]
    small = {
        tuple(r) for r in bm25_over_index(spark, store, terms, topn=20).collect()
    }
    monkeypatch.setattr(tb, "TOMBSTONE_BROADCAST_MAX_BYTES", 1)
    big = {
        tuple(r) for r in bm25_over_index(spark, store, terms, topn=20).collect()
    }
    assert small == big
    assert not any(r[0] in (0, 1, 2) for r in small)


def test_search_maintenance_compacts_tombstone_dir(spark, tmp_path):
    """maintain_search_index's tick includes the tombstone directory —
    a stream that takes deletes between batches keeps ALL its
    append-per-event directories bounded, not just postings/doclen."""
    from fest_vibes_ai_etl_spark.operators.search import (
        load_or_build_postings_store,
    )
    from fest_vibes_ai_etl_spark.streaming.incremental_search import (
        delete_from_search_index,
        maintain_search_index,
    )

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("some words here "), F.col("id")).alias("text"),
    )
    store = str(tmp_path / "store")
    load_or_build_postings_store(spark, docs, str(tmp_path), store_path=store)
    for i in range(12):
        delete_from_search_index(spark, store, [i])
    stats = maintain_search_index(spark, store, max_files_per_bucket=2)
    assert "tombstone_files_merged" in stats
    files = _visible_files(tombstones_path(store))
    assert 0 < len(files) <= 3, files
    got = {
        r[0]
        for r in read_tombstones(spark, store, cols=["doc_id"]).collect()
    }
    assert got == set(range(12))


def test_read_only_probe_detects_inflight_compaction(spark, tmp_path):
    """heal="detect" (the read-only probe mode): a probe that sees an
    unhealed compaction journal RAISES the typed error naming the owner
    op and mutates nothing; heal="repair" (the owner default) heals the
    same state and proceeds."""
    import json

    from fest_vibes_ai_etl_spark.operators.search import (
        load_or_build_postings_store,
    )
    from fest_vibes_ai_etl_spark.streaming.incremental_search import (
        bm25_over_index,
    )
    from fest_vibes_ai_etl_spark.streaming.state_store import (
        InFlightRecoveryError,
    )

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("merge hash window words "), F.col("id")).alias("text"),
    )
    store = str(tmp_path / "store")
    load_or_build_postings_store(spark, docs, str(tmp_path), store_path=store)
    terms = ["merge", "hash"]
    clean = bm25_over_index(spark, store, terms, topn=5).collect()

    # simulate a maintenance pass (another session's) dead mid-merge:
    # journal present, rollback state (final never renamed in)
    doclen = os.path.join(store, "doclen")
    man = os.path.join(doclen, "_compact.json")
    with open(man, "w") as fh:
        json.dump({"final": "part-merged-dead.parquet", "inputs": []}, fh)
    before = sorted(os.listdir(doclen))

    with pytest.raises(InFlightRecoveryError, match="read-only|Read-only"):
        bm25_over_index(spark, store, terms, topn=5, heal="detect")
    # NOTHING was renamed or deleted by the refusing probe
    assert sorted(os.listdir(doclen)) == before
    assert os.path.exists(man)

    # the owner-side probe repairs and ranks as before. The journal was
    # planted by a "foreign session" (this test), which the probe memo —
    # by the single-writer contract — does not see: clear it the way a
    # fresh owner session starts, with no memo.
    from fest_vibes_ai_etl_spark.streaming.state_store import (
        invalidate_probe_memo,
    )

    invalidate_probe_memo(store)
    healed = bm25_over_index(spark, store, terms, topn=5).collect()
    assert not os.path.exists(man)
    assert healed == clean


def test_read_only_probe_detects_crashed_revoke_swap(spark, tmp_path):
    """An older version's revoke swap that died between its renames left
    the set at ``<set>_unold`` and nothing live. Every read — read-only
    probes included — refuses with the manual restore instead of reading
    "no deletes" (which would resurrect every erased doc), and mutates
    nothing; after the restore the ids are suppressed again."""
    from fest_vibes_ai_etl_spark.streaming.state_store import (
        InFlightRecoveryError,
    )

    corpus = str(tmp_path / "corpus")
    _corpus(spark, corpus)
    delete_from_dedup_corpus(spark, corpus, [1, 2, 3])
    tdir = tombstones_path(corpus)
    os.rename(tdir, tdir + "_unold")  # the dangerous half of the swap
    with pytest.raises(InFlightRecoveryError, match="mv .*_unold"):
        read_tombstones(spark, corpus, cols=["doc_id"])
    with pytest.raises(InFlightRecoveryError, match="revoke"):
        read_dedup_corpus(spark, corpus, heal="detect")
    assert os.path.isdir(tdir + "_unold") and not os.path.exists(tdir)
    os.rename(tdir + "_unold", tdir)  # the restore the message names
    got = {r[0] for r in read_tombstones(spark, corpus, cols=["doc_id"]).collect()}
    assert got == {1, 2, 3}


def test_purge_reaches_forward_and_revision_sidecars(spark, tmp_path):
    """A physical purge (the GDPR erase) must remove the ids from EVERY
    orientation of the index — postings, doclen, the doc-major forward
    sidecar, and any _rev rows from a pre-delete revise — and the probe
    must rank identically before and after."""
    from fest_vibes_ai_etl_spark.operators.search import (
        load_or_build_postings_store,
    )
    from fest_vibes_ai_etl_spark.streaming.incremental_search import (
        bm25_over_index,
        delete_from_search_index,
        make_search_index_processor,
        revise_search_document,
    )

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("merge hash window body "), F.col("id")).alias("text"),
    )
    store = str(tmp_path / "store")
    load_or_build_postings_store(spark, docs, str(tmp_path), store_path=store)
    revise_search_document(spark, store, 3, "revised unique content words")
    delete_from_search_index(spark, store, [3, 5])
    before = bm25_over_index(spark, store, ["merge", "hash"], topn=20).collect()
    assert make_search_index_processor(store).purge(spark) >= 1
    after = bm25_over_index(spark, store, ["merge", "hash"], topn=20).collect()
    assert after == before  # purge timing is an operations choice

    # PHYSICAL erasure across every orientation: raw reads see no trace
    for sub in ("postings", "forward", "doclen"):
        raw = spark.read.parquet(os.path.join(store, sub))
        assert raw.filter(F.col("doc_id").isin([3, 5])).count() == 0, sub
    raw_rev = spark.read.parquet(store + "_rev/terms")
    assert raw_rev.filter(F.col("doc_id") == 3).count() == 0
    raw_revdl = spark.read.parquet(store + "_rev/doclen")
    assert raw_revdl.filter(F.col("doc_id") == 3).count() == 0
