"""Streaming vocabulary-PSI monitor: streamed cell-log PSI must equal the
batch computation on identical data, an at-least-once replay must leave
it unchanged, a fresh checkpoint against the log is refused, and a planted
vocabulary shift must move the statistic."""

from __future__ import annotations

from conftest import SF_DIR
from monitor_log import assert_refused, replay_last_batch

from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming.monitors import (
    start_vocab_cell_log,
    streamed_vocab_psi,
    vocab_reference_cells,
)

from fest_vibes_ai_etl_spark.operators.textanalysis import VOCAB_PSI_BUCKETS

BUCKETS = VOCAB_PSI_BUCKETS  # must equal the batch query's bucketing for
# the stream == batch-catalog-query comparison below


def _run_monitor(spark, src, log_root, ckpt):
    stream = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_vocab_cell_log(
        stream, str(log_root), str(ckpt), buckets=BUCKETS, available_now=True
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"


def test_streamed_vocab_psi_matches_batch_and_replays(spark, tmp_path):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    ref = docs.filter("doc_id % 2 = 0")
    tgt = docs.filter("doc_id % 2 = 1")
    src, log_root = tmp_path / "src", tmp_path / "log"
    # two micro-batches of target docs
    tgt.filter("doc_id < 250").coalesce(1).write.parquet(str(src))
    tgt.filter("doc_id >= 250").coalesce(1).write.mode("append").parquet(str(src))

    ref_cells = vocab_reference_cells(ref, buckets=BUCKETS).persist()
    _run_monitor(spark, src, log_root, tmp_path / "ckpt1")
    streamed = {
        r.lang: (r.n_ref, r.n_tgt, r.psi)
        for r in streamed_vocab_psi(spark, str(log_root), ref_cells, buckets=BUCKETS).collect()
    }

    # NON-CIRCULAR batch equivalent: the actual catalog query (same
    # doc_id % 2 split, same buckets, same exact fold) must agree
    # digit-for-digit with the streamed report
    from fest_vibes_ai_etl_spark.plans import catalog

    batch = {
        r.lang: (r.n_ref_tokens, r.n_tgt_tokens, r.vocab_psi)
        for r in catalog.queries()["text_vocab_psi_drift"](spark, SF_DIR).collect()
    }
    assert streamed == batch

    # at-least-once replay of the last batch on its own checkpoint: the
    # report is identical
    replay_last_batch(
        tmp_path / "ckpt1", lambda: _run_monitor(spark, src, log_root, tmp_path / "ckpt1")
    )
    replayed = {
        r.lang: (r.n_ref, r.n_tgt, r.psi)
        for r in streamed_vocab_psi(spark, str(log_root), ref_cells, buckets=BUCKETS).collect()
    }
    assert replayed == streamed

    # a fresh checkpoint against the same log is refused, writing nothing
    assert_refused(
        lambda: _run_monitor(spark, src, log_root, tmp_path / "ckpt2"), log_root
    )


def test_planted_vocab_shift_moves_psi(spark, tmp_path):
    # reference: one vocabulary; target batch: half the docs switch to a
    # disjoint vocabulary — PSI must be clearly above the like-for-like run
    base = [(i, "en", "alpha beta gamma delta epsilon " * 3) for i in range(60)]
    same = [(100 + i, "en", "alpha beta gamma delta epsilon " * 3) for i in range(30)]
    shifted = [(200 + i, "en", "zork quux wibble flob grue " * 3) for i in range(30)]
    ref = spark.createDataFrame(base, "doc_id long, lang string, text string")
    ref_cells = vocab_reference_cells(ref, buckets=BUCKETS).persist()

    def run(rows, tag):
        src, log_root = tmp_path / f"src_{tag}", tmp_path / f"log_{tag}"
        spark.createDataFrame(rows, "doc_id long, lang string, text string").coalesce(
            1
        ).write.parquet(str(src))
        _run_monitor(spark, src, log_root, tmp_path / f"ckpt_{tag}")
        return streamed_vocab_psi(spark, str(log_root), ref_cells, buckets=BUCKETS).collect()[0].psi

    psi_same = run(same, "same")
    psi_shift = run(same + shifted, "shift")
    assert psi_shift > psi_same + 0.1
