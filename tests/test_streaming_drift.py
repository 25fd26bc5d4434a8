"""Streaming PSI monitor: streamed cell-log PSI must equal the batch PSI
query on identical data; an at-least-once replay of a batch leaves the
report unchanged, and a fresh checkpoint against the log is refused."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR
from monitor_log import assert_refused, replay_last_batch

from fest_vibes_ai_etl_spark.plans import catalog
from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming.monitors import (
    reference_cells,
    start_drift_cell_log,
    streamed_psi,
)

CUT = "2024-01-16"


def _run_monitor(spark, src, stats, log_root, ckpt, schema, files_per_batch=1):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_batch)
        .parquet(str(src))
    )
    q = start_drift_cell_log(
        stream, stats, str(log_root), str(ckpt), available_now=True
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"


def test_streamed_psi_matches_batch_and_replays(spark, tmp_path):
    ev = table(spark, SF_DIR, "events").select("event_type", "value", "ts")
    is_ref = F.to_date("ts") < F.lit(CUT).cast("date")
    ref = ev.filter(is_ref).select("event_type", "value")
    tgt = ev.filter(~is_ref).select("event_type", "value")

    stats, rcells = reference_cells(ref)
    stats, rcells = stats.cache(), rcells.cache()

    # stage the target slice as 3 parquet chunks → 3 micro-batches
    src = tmp_path / "src"
    chunked = tgt.withColumn(
        "c", F.pmod(F.xxhash64("event_type", "value"), F.lit(3))
    )
    for i in range(3):
        chunked.filter(F.col("c") == i).drop("c").repartition(1).write.mode(
            "append"
        ).parquet(str(src))

    log_root = tmp_path / "cells"
    _run_monitor(spark, src, stats, log_root, tmp_path / "ckpt1", tgt.schema)

    got = {
        r["event_type"]: (r["n_ref"], r["n_tgt"], r["psi"])
        for r in streamed_psi(spark, str(log_root), rcells).collect()
    }
    catalog.queries()  # populate the lazy registry
    want = {
        r["event_type"]: (r["n_ref"], r["n_tgt"], r["psi"])
        for r in catalog.REGISTRY["events_psi_value_drift"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert got == want  # streamed == batch, bit-for-bit

    # at-least-once replay: the last batch re-runs on its checkpoint with
    # the same offsets; its partial already landed, the report is unchanged
    replay_last_batch(
        tmp_path / "ckpt1",
        lambda: _run_monitor(
            spark, src, stats, log_root, tmp_path / "ckpt1", tgt.schema
        ),
    )
    again = {
        r["event_type"]: (r["n_ref"], r["n_tgt"], r["psi"])
        for r in streamed_psi(spark, str(log_root), rcells).collect()
    }
    assert again == want

    # a fresh checkpoint against the same log is refused, writing nothing
    assert_refused(
        lambda: _run_monitor(
            spark, src, stats, log_root, tmp_path / "ckpt2", tgt.schema
        ),
        log_root,
    )


def test_fresh_checkpoint_resplit_is_refused_not_double_counted(spark, tmp_path):
    """The cell log's old batch-id overwrite converged only when a re-run
    repeated the batch boundaries: these 480 rows streamed one file per
    batch, then re-streamed three files per batch on a fresh checkpoint,
    summed to 875. The log pins its checkpoint, so the second start is
    refused and the log still counts each row once."""
    i = F.col("id")
    ev = spark.range(480).select(
        F.when(i % 3 == 0, "b").otherwise("a").alias("event_type"),
        (i % 17).cast("double").alias("value"),
    )
    stats, _ = reference_cells(ev)
    src, log_root = tmp_path / "src", tmp_path / "cells"
    for part in range(3):
        ev.filter(F.pmod(F.hash("value"), F.lit(3)) == part).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    _run_monitor(spark, src, stats, log_root, tmp_path / "ckpt1", ev.schema)

    def total():
        return spark.read.parquet(str(log_root)).agg(F.sum("n")).first()[0]

    assert total() == 480
    assert_refused(
        lambda: _run_monitor(
            spark, src, stats, log_root, tmp_path / "ckpt2", ev.schema,
            files_per_batch=3,
        ),
        log_root,
    )
    assert total() == 480


def test_psi_is_zero_when_target_equals_reference(spark):
    from fest_vibes_ai_etl_spark.operators import drift

    cells = spark.createDataFrame(
        [("a", 0, 10, 10), ("a", 1, 5, 5), ("b", 0, 7, 7)],
        "event_type string, bin int, ref_n long, tgt_n long",
    )
    out = {r["event_type"]: r["psi"] for r in drift.psi_from_cells(cells).collect()}
    # identical cells → ref_tot == tgt_tot → p == q exactly → psi == 0.0
    assert out == {"a": 0.0, "b": 0.0}


def test_bin_values_drops_unseen_categories(spark):
    from fest_vibes_ai_etl_spark.operators import drift

    ref = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "event_type string, value double"
    )
    tgt = spark.createDataFrame(
        [("a", 1.5), ("zz", 9.0)], "event_type string, value double"
    )
    stats = drift.fit_reference(ref)
    binned = drift.bin_values(tgt, stats)
    # 'zz' has no reference geometry — inner join drops it (an unseen
    # category has no distribution to drift FROM; surface it separately)
    assert [r["event_type"] for r in binned.collect()] == ["a"]


def test_degenerate_reference_bins_to_zero(spark):
    from fest_vibes_ai_etl_spark.operators import drift

    ref = spark.createDataFrame(
        [("a", 3.0), ("a", 3.0)], "event_type string, value double"
    )
    stats = drift.fit_reference(ref)
    binned = drift.bin_values(ref, stats)
    # constant reference → width floored at 1e-300, every value in bin 0
    assert {r["bin"] for r in binned.collect()} == {0}
