"""The monitors' rollup log (``streaming/rollup_log.py``), driven through
each family's starter: the Spark jobs of a steady batch, a crash inside
the fold, and the census over a long stream."""

from __future__ import annotations

import os
import statistics
import time

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming import rollup_log, state_store
from fest_vibes_ai_etl_spark.streaming.monitors import (
    latest_sketches,
    reference_cells,
    start_drift_cell_log,
    start_freq_maintenance,
    start_kmv_maintenance,
    start_sketch_maintenance,
    start_vocab_cell_log,
)

MAX_FILES = 8  # compact_small_files' default fold threshold


@pytest.fixture()
def bare(spark, monkeypatch):
    """The monitor starters return their foreachBatch body instead of a
    stream, to be called directly under a fixed streaming query id (the
    property Spark sets on the thread that runs a micro-batch)."""
    sc = spark.sparkContext
    sc.setLocalProperty("sql.streaming.queryId", "query-under-test")
    monkeypatch.setattr(rollup_log, "start_stream", lambda process, *a, **k: process)
    yield
    sc.setLocalProperty("sql.streaming.queryId", None)


def _data_files(root):
    return [n for n in os.listdir(root) if n.endswith(".parquet") and n[0] not in "_."]


# measured per steady batch (the parent layout: drift 4, vocab 3, freq 7,
# hll 6, kmv 9 — a fingerprint and an isEmpty job for freq, a whole-table
# read and max(v) collect for the sketches)
STEADY_JOBS = {"drift": 3, "vocab": 2, "freq": 4, "hll": 2, "kmv": 3}


@pytest.mark.parametrize("family", sorted(STEADY_JOBS))
def test_steady_batch_job_count(spark, tmp_path, bare, family):
    """A steady batch that does not fold runs only the write of its own
    partial: no collect, no read of the log."""
    ev = table(spark, SF_DIR, "events").select("ts", "user_id", "event_type", "value")
    docs = table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    log = str(tmp_path / "log")
    if family == "drift":
        stats = reference_cells(ev)[0].cache()
        stats.count()
        proc = start_drift_cell_log(ev, stats, log, "-")
    elif family == "vocab":
        proc = start_vocab_cell_log(docs, log, "-")
    elif family == "freq":
        proc = start_freq_maintenance(docs, log, "-")
    elif family == "hll":
        proc = start_sketch_maintenance(ev, log, "-")
    else:
        proc = start_kmv_maintenance(ev, log, "-")
    src, idc = (docs, "doc_id") if family in ("vocab", "freq") else (ev, "user_id")
    sc = spark.sparkContext
    for b in range(3):
        group = f"steady_{family}_{b}"
        sc.setJobGroup(group, "monitor batch")
        try:
            proc(src.filter(F.col(idc) % 3 == b), b)
        finally:
            sc.setJobGroup(group + "_done", "after")
    n = len(sc.statusTracker().getJobIdsForGroup(f"steady_{family}_2"))
    assert 0 < n <= STEADY_JOBS[family], f"steady {family} batch ran {n} Spark jobs"
    assert len(_data_files(log)) == 3


def _events(spark, b):
    """Batch ``b``'s events: 16 users over two days."""
    u = F.col("id")
    return spark.range(16).select(
        F.timestamp_seconds(F.lit(1704110400) + u % 2 * 86400).alias("ts"),
        (u + b * 8).alias("user_id"),
    )


def _estimates(df):
    return {
        r.day.isoformat(): r.est
        for r in df.select(
            "day", F.hll_sketch_estimate("user_sketch").cast("long").alias("est")
        ).collect()
    }


def _batch_estimates(events):
    return _estimates(
        events.select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("user_sketch"))
    )


def test_fold_crash_after_manifest_heals_on_restart(spark, tmp_path, bare, monkeypatch):
    """A crash between the fold's manifest and its first rename: a reader
    refuses the journaled log, and the restarted stream re-runs the batch,
    rolls the fold forward and lands the batch — the report equals the
    batch sketch of every row, each batch counted once."""
    log = str(tmp_path / "hll")
    start = lambda: start_sketch_maintenance(None, log, "-")
    proc = start()
    for b in range(MAX_FILES + 1):
        proc(_events(spark, b), b)
    assert len(_data_files(log)) == MAX_FILES + 1  # the next batch folds

    def die(*a, **k):
        raise RuntimeError("killed after the fold's manifest")

    promote = state_store._promote
    monkeypatch.setattr(state_store, "_promote", die)
    with pytest.raises(RuntimeError, match="killed"):
        proc(_events(spark, MAX_FILES + 1), MAX_FILES + 1)
    monkeypatch.setattr(state_store, "_promote", promote)
    with pytest.raises(state_store.InFlightRecoveryError):
        latest_sketches(spark, log)

    restarted = start()
    restarted(_events(spark, MAX_FILES + 1), MAX_FILES + 1)
    assert len(_data_files(log)) == 2  # the folded segment and this batch
    every = _events(spark, 0)
    for b in range(1, MAX_FILES + 2):
        every = every.unionByName(_events(spark, b))
    assert _estimates(latest_sketches(spark, log)) == _batch_estimates(every)


def test_census_stays_bounded_over_a_long_stream(spark, tmp_path, bare):
    """64 micro-batches of one family through a real stream: after every
    batch the log holds at most ``max_files + 1`` data files, and the
    folded report counts every user once. Prints the first-10 and last-10
    median batch walls."""
    n_batches = 64
    src, log = tmp_path / "src", str(tmp_path / "hll")
    for b in range(n_batches):
        _events(spark, b).coalesce(1).write.mode("append").parquet(str(src))
    proc = start_sketch_maintenance(None, log, "-")
    census, walls = [], []

    def observed(batch_df, batch_id):
        t0 = time.perf_counter()
        proc(batch_df, batch_id)
        walls.append(time.perf_counter() - t0)
        census.append(len(_data_files(log)))

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = state_store.start_stream(observed, stream, str(tmp_path / "ckpt"))
    assert q.awaitTermination(600), "stream did not finish in 600s"
    assert len(census) == n_batches
    assert max(census) <= MAX_FILES + 1, census
    assert _estimates(latest_sketches(spark, log)) == _batch_estimates(
        spark.read.parquet(str(src))
    )
    print(
        f"batch wall median: first 10 {statistics.median(walls[:10]):.3f}s, "
        f"last 10 {statistics.median(walls[-10:]):.3f}s"
    )
