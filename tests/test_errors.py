"""The PATH_NOT_FOUND-only contract of the load-or-first-batch seams: an
existing-but-unreadable table must RAISE, never masquerade as a first
batch (the silent-duplication / partition-overwrite data-loss mode)."""

from __future__ import annotations

import pytest

from fest_vibes_ai_etl_spark.errors import is_path_not_found


class _FakeExc(Exception):
    def __init__(self, cond):
        super().__init__(cond or "boom")
        self._cond = cond

    def getCondition(self):
        return self._cond


def test_is_path_not_found_by_condition():
    assert is_path_not_found(_FakeExc("PATH_NOT_FOUND")) is True
    assert is_path_not_found(_FakeExc("UNABLE_TO_INFER_SCHEMA")) is False
    assert is_path_not_found(_FakeExc("INTERNAL_ERROR")) is False


def test_is_path_not_found_message_fallback():
    # exceptions without the condition accessor fall back to message text
    assert is_path_not_found(Exception("[PATH_NOT_FOUND] Path does not exist"))
    assert not is_path_not_found(Exception("Unable to infer schema for Parquet"))


def test_unreadable_existing_table_raises_not_first_batch(spark, tmp_path):
    # an EXISTING but unreadable (empty) monitor log raises
    # UNABLE_TO_INFER_SCHEMA through every reader's fold — never an empty
    # report that reads as "nothing streamed yet"
    from pyspark.errors import AnalysisException

    from fest_vibes_ai_etl_spark.streaming.monitors import (
        latest_sketches,
        merged_heavy_hitters,
    )

    empty = tmp_path / "existing_but_empty"
    empty.mkdir()
    for read in (latest_sketches, merged_heavy_hitters):
        with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
            read(spark, str(empty)).collect()


def test_incremental_dedup_raises_on_unreadable_history(spark, tmp_path):
    # same contract through the foreachBatch operator: empty-but-existing
    # corpus dir must FAIL the stream, not re-append the batch
    from fest_vibes_ai_etl_spark.streaming.incremental_dedup import (
        make_exact_dedup_processor,
    )
    from fest_vibes_ai_etl_spark.streaming.state_store import start_stream

    src = tmp_path / "src"
    corpus = tmp_path / "corpus"
    corpus.mkdir()  # exists, unreadable as parquet
    spark.createDataFrame(
        [(1, "a document")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_stream(
        make_exact_dedup_processor(str(corpus)), stream, str(tmp_path / "ckpt")
    )
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        assert q.awaitTermination(120), "stream did not finish in 120s"
