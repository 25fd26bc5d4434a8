"""The shared dedup-stream lifecycle (``streaming/dedup_stream.py``), run
for every family: mid-run corpus deletion, sidecar migration, and the
steady-batch Spark job ceiling."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from test_banded_index import B1, B2

from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming.dedup_stream import exact_index_path
from fest_vibes_ai_etl_spark.streaming.incremental_dedup import (
    make_exact_dedup_processor,
)
from fest_vibes_ai_etl_spark.streaming.incremental_near_dedup import (
    _band_hashes,
    make_near_dedup_processor,
    near_index_path,
)
from fest_vibes_ai_etl_spark.streaming.incremental_span_dedup import (
    make_span_dedup_processor,
    span_index_path,
)

FAMILIES = ["exact", "span", "near"]
SIDECAR_PATH = {"exact": None, "span": span_index_path, "near": near_index_path}


def _processor(family, corpus, n_bands=None):
    if family == "exact":
        return make_exact_dedup_processor(corpus, n_bands=n_bands)
    if family == "span":
        return make_span_dedup_processor(
            corpus, k=20, w=15, min_shared=3, n_bands=n_bands
        )
    return make_near_dedup_processor(
        corpus, k=3, num_hashes=32, bands=8, threshold=0.2, n_buckets=n_bands
    )


def _sidecars(family, corpus):
    sim = SIDECAR_PATH[family]
    return [exact_index_path(corpus)] + ([sim(corpus)] if sim else [])


def _exact_covers_corpus(spark, corpus):
    idx_fps = {
        r.fp
        for r in spark.read.parquet(exact_index_path(corpus)).select("fp").collect()
    }
    return idx_fps == {
        r.fp for r in spark.read.parquet(corpus).select("fp").collect()
    }


@pytest.mark.parametrize("family", FAMILIES)
def test_mid_run_corpus_deletion_kills_sidecars(spark, tmp_path, family):
    """The deleted-corpus guard must not be one-shot per stream run: if
    the corpus vanishes while a stream is MID-RUN (after its settle flag
    is set), the next batch must still invalidate every surviving
    sidecar before probing or appending — otherwise new docs matching
    the old, gone corpus are silently dropped and stored nowhere. Driven
    through the exported batch processor (the exact closure foreachBatch
    runs) so the deletion lands between two batches of ONE run."""
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = str(tmp_path / "corpus")
    proc = _processor(family, corpus)
    proc(docs.filter("doc_id < 40"), 0)
    n = spark.read.parquet(corpus).count()
    assert n > 0
    for d in _sidecars(family, corpus):
        assert os.path.exists(d)
    # the corpus is deleted out from under the RUNNING stream; the
    # sidecars survive and now describe a gone corpus
    shutil.rmtree(corpus)
    # same texts again, same run: every doc the first batch stored is
    # stored again — nothing silently dropped against the gone corpus
    proc(docs.filter("doc_id < 40"), 1)
    assert spark.read.parquet(corpus).count() == n
    # the recreated exact sidecar exactly covers the recreated corpus
    assert _exact_covers_corpus(spark, corpus)
    # a THIRD batch of the same texts appends nothing (probe healthy)
    proc(docs.filter("doc_id < 40"), 2)
    assert spark.read.parquet(corpus).count() == n


@pytest.mark.parametrize("family", FAMILIES)
def test_migrates_sidecarless_corpus(spark, tmp_path, family):
    """A corpus whose sidecars are gone (written by an older round, or
    deleted) must get them rebuilt from the corpus by the next stream's
    first batch, which still drops historical duplicates bucket-locally."""
    corpus = str(tmp_path / "corpus")
    rows = lambda r: spark.createDataFrame(r, "doc_id long, text string")
    _processor(family, corpus, n_bands=16)(rows(B1), 0)
    for d in _sidecars(family, corpus):
        shutil.rmtree(d)
    # a restarted stream: a fresh processor settles its sidecars once
    _processor(family, corpus, n_bands=16)(rows(B2), 0)
    stored = spark.read.parquet(corpus)
    ids = {r.doc_id for r in stored.select("doc_id").collect()}
    # 2000 is an exact dup of 2; 10 carries 1's passage (span) and is a
    # near-dup of it (near), but not byte-identical (exact)
    assert ids == ({1, 2, 3, 10, 11} if family == "exact" else {1, 2, 3, 11})
    assert stored.select("fp").distinct().count() == stored.count()
    # the migration-built sidecars cover old and new rows alike
    for d in _sidecars(family, corpus):
        assert os.path.exists(d)
    assert _exact_covers_corpus(spark, corpus)
    if family == "exact":
        return
    got = spark.read.parquet(SIDECAR_PATH[family](corpus))
    if family == "span":
        want = stored.select(
            F.col("doc_id").alias("id"), F.explode("wfps").alias("fp")
        )
    else:
        want = _band_hashes(stored, "doc_id", 32, 8).select(
            F.col("bid").alias("id"), "band", "band_hash"
        )
    cols = want.columns
    assert {tuple(r) for r in got.select(*cols).collect()} == {
        tuple(r) for r in want.collect()
    }


# steady-batch job counts measured on 4 cores, shuffle.partitions=8:
# exact 10, span 37, near 51 (span was 43 while its winnow frame was
# persisted separately); the ceilings, ~1.4x of 10/43/51, allow planner
# drift
JOB_CEILING = {"exact": 14, "span": 60, "near": 72}


@pytest.mark.parametrize("family", FAMILIES)
def test_steady_batch_job_count_bounded(spark, tmp_path, family):
    """A machine-independent canary for the fixed per-batch overhead: a
    steady-state batch of every family submits a BOUNDED number of Spark
    jobs (AQE's per-stage jobs included). Gross regressions this catches
    at test time instead of on the bench: a per-batch index rebuild,
    duplicate evaluations of the dedup lineage, per-sidecar
    appends/collects coming un-fused, or per-band job fan-out."""
    sc = spark.sparkContext
    proc = _processor(family, str(tmp_path / "c"), n_bands=64)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    passage = "the quick brown fox jumps over the lazy dog near the river bank today"
    proc(mk([(i, f"doc {i} " + " ".join(f"w{i}{j}" for j in range(30)))
             for i in range(8)]), 0)
    proc(mk([(100 + i, f"other {i} " + " ".join(f"x{i}{j}" for j in range(30)))
             for i in range(8)]), 1)  # warm the instance caches
    group = f"steady_{family}"
    sc.setJobGroup(group, "counted steady batch")
    try:
        proc(mk([(200 + i, f"third {i} " + " ".join(f"y{i}{j}" for j in range(30)))
                 for i in range(8)] + [(300, "alpha " + passage + " omega")]), 2)
    finally:
        sc.setJobGroup(group + "_done", "after")
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n <= JOB_CEILING[family], f"steady {family} batch submitted {n} Spark jobs"


@pytest.mark.parametrize("family", FAMILIES)
def test_purge_clear_readmits_resent_text(spark, tmp_path, family):
    """``purge(clear=True)`` forgets erased content everywhere: the same
    text re-sent under a new id is admitted. The purge folds every
    sidecar before it drops the tombstone set — a stale ``_exactidx``
    (or similarity) row for the purged doc would otherwise drop the
    re-sent text forever."""
    from fest_vibes_ai_etl_spark.streaming.tombstones import (
        delete_from_dedup_corpus,
        tombstones_path,
    )

    corpus = str(tmp_path / "corpus")
    rows = lambda r: spark.createDataFrame(r, "doc_id long, text string")
    proc = _processor(family, corpus)
    proc(rows(B1), 0)
    delete_from_dedup_corpus(spark, corpus, [1])
    assert proc.purge(spark, clear=True) == 1
    assert not os.path.exists(tombstones_path(corpus))
    proc(rows([(20, B1[0][1])]), 1)
    stored = spark.read.parquet(corpus)
    assert sorted(r.doc_id for r in stored.select("doc_id").collect()) == [2, 3, 20]
    # a re-run converges: nothing left to erase
    assert proc.purge(spark, clear=True) == 0


def _data_files(path):
    return [
        n for n in os.listdir(path)
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    ]


def test_corpus_census_is_bounded(spark, tmp_path):
    """The maintenance tick compacts the corpus too (size-tiered, like
    the sidecar bands): 24 small batches with ``maintain_every=4,
    maintain_max_files=2`` keep the corpus's data-file count bounded
    instead of growing by a file per batch, and every stored row is
    kept exactly once."""
    corpus = str(tmp_path / "corpus")
    proc = make_exact_dedup_processor(
        corpus, maintain_every=4, maintain_max_files=2
    )
    census = []
    for b in range(24):
        proc(spark.createDataFrame(
            [(b * 4 + i, f"batch {b} doc {i} words") for i in range(4)],
            "doc_id long, text string",
        ), b)
        census.append(len(_data_files(corpus)))
    # a tick merges every small file into one segment; between ticks
    # four batches add their files (one each here)
    assert census[3::4] == [1] * 6, census
    assert max(census) <= 4, census
    ids = [r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()]
    assert sorted(ids) == list(range(96))


def test_delete_before_first_batch_keeps_the_id_burned(spark, tmp_path):
    """A fenced delete before the stream's first batch leaves the corpus
    directory holding only the writer lease and the store generation.
    The first batch still runs as a first batch, and the deleted id stays
    burned: its tombstone survives and the purge erases the document the
    batch stored (the exact family burns by fingerprint, and the delete
    had no stored text to resolve one from)."""
    from fest_vibes_ai_etl_spark.streaming.tombstones import (
        delete_from_dedup_corpus,
        read_tombstones,
    )

    corpus = str(tmp_path / "corpus")
    assert delete_from_dedup_corpus(spark, corpus, [7]) == 0
    assert sorted(os.listdir(corpus)) == ["_gen", "_writer_lease"]
    proc = make_exact_dedup_processor(corpus)
    proc(spark.createDataFrame(
        [(i, f"document number {i}") for i in range(5, 10)], "doc_id long, text string"
    ), 0)
    assert [r.doc_id for r in read_tombstones(spark, corpus).collect()] == [7]
    assert proc.purge(spark) == 1
    ids = sorted(r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect())
    assert ids == [5, 6, 8, 9]
