"""Incremental corpus dedup: cross-batch uniqueness + replay convergence."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR

from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming.incremental_dedup import (
    make_exact_dedup_processor,
)
from fest_vibes_ai_etl_spark.streaming.state_store import start_stream


def _run(spark, src, corpus, ckpt):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_stream(make_exact_dedup_processor(corpus), stream, ckpt)
    assert q.awaitTermination(120), "stream did not finish in 120s"


def test_incremental_dedup_across_batches(spark, tmp_path):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    src, corpus = str(tmp_path / "src"), str(tmp_path / "corpus")
    # three overlapping slices: 0-59, 40-99, 80-139 (overlaps must dedupe)
    docs.filter("doc_id < 60").coalesce(1).write.parquet(src)
    docs.filter("doc_id >= 40 AND doc_id < 100").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id >= 80 AND doc_id < 140").coalesce(1).write.mode("append").parquet(src)

    _run(spark, src, corpus, str(tmp_path / "ckpt1"))
    stored = spark.read.parquet(corpus)
    n_unique_texts = (
        docs.filter("doc_id < 140").select("text").distinct().count()
    )
    assert stored.select("fp").distinct().count() == stored.count()
    assert stored.count() == n_unique_texts

    # full replay under a fresh checkpoint appends nothing (convergent)
    _run(spark, src, corpus, str(tmp_path / "ckpt2"))
    assert spark.read.parquet(corpus).count() == n_unique_texts


def test_exact_probe_stores_md5_of_distinct_texts(spark, tmp_path):
    """The fpk-banded replay guard must store exactly one fingerprint per
    distinct text (an md5 reference computed in Python from the source
    rows), its sidecar must cover the corpus, and reopening the sidecar
    must adopt its persisted layout."""
    import hashlib
    import json
    import os

    from fest_vibes_ai_etl_spark.streaming.dedup_stream import (
        exact_index_path,
    )

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.filter("doc_id < 60").coalesce(1).write.parquet(src)
    docs.filter("doc_id >= 40 AND doc_id < 100").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    texts = {r.text for r in docs.filter("doc_id < 100").collect()}
    want = {hashlib.md5(t.encode()).hexdigest() for t in texts}
    corpus = str(tmp_path / "corpus")
    _run(spark, src, corpus, str(tmp_path / "ckpt"))
    fps = {r.fp for r in spark.read.parquet(corpus).select("fp").collect()}
    assert fps == want
    assert spark.read.parquet(corpus).count() == len(want)
    # the sidecar exactly covers the corpus
    idx_dir = exact_index_path(corpus)
    stored = {
        r.fp for r in spark.read.parquet(idx_dir).select("fp").collect()
    }
    assert stored == fps
    assert json.load(open(idx_dir + "/_meta.json"))["schema_tag"] == (
        "exact:md5-xxh64:fp-only"
    )
    assert not os.path.exists(idx_dir + ".inflight")


def test_exact_index_heals_after_crash_between_corpus_and_index(spark, tmp_path):
    """Crash model: a batch dies after its corpus append but before its
    index append. The replayed batch must append nothing to the corpus,
    re-append the missing index fingerprints, and clear the marker."""
    import os

    from pyspark.sql import functions as F

    from fest_vibes_ai_etl_spark.streaming.banded_index import (
        BandedFingerprintIndex,
    )
    from fest_vibes_ai_etl_spark.streaming.dedup_stream import (
        exact_index_path,
    )

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    corpus = str(tmp_path / "corpus")
    docs.filter("doc_id < 40").coalesce(1).write.parquet(src1)
    docs.filter("doc_id >= 30 AND doc_id < 80").coalesce(1).write.parquet(src2)
    _run(spark, src1, corpus, str(tmp_path / "k1"))
    _run(spark, src2, corpus, str(tmp_path / "k2"))
    idx_dir = exact_index_path(corpus)
    full = {r.fp for r in spark.read.parquet(idx_dir).select("fp").collect()}
    n0 = spark.read.parquet(corpus).count()
    assert not os.path.exists(idx_dir + ".inflight")
    # rewind the index to the pre-batch-2 state + plant the marker: the
    # batch-2 rows' fingerprints are now corpus-only
    b1_fps = {
        r.fp
        for r in spark.read.parquet(corpus)
        .join(
            spark.read.parquet(src1).select("doc_id"), "doc_id", "left_semi"
        )
        .select("fp")
        .collect()
    }
    idx = BandedFingerprintIndex(idx_dir, "fpk")
    assert idx.exists(spark)  # adopt layout before rebuilding
    survivor_rows = (
        spark.read.parquet(idx_dir)
        .select("fp", "fpk")
        .filter(F.col("fp").isin(list(b1_fps)))
        .collect()  # materialize BEFORE invalidate deletes the source
    )
    survivors = spark.createDataFrame(survivor_rows, "fp string, fpk long")
    nb = idx.n_bands
    idx.invalidate(spark)
    idx2 = BandedFingerprintIndex(
        idx_dir, "fpk", n_bands=nb, schema_tag="exact:md5-xxh64:fp-only"
    )
    idx2.build_from(survivors)
    open(idx_dir + ".inflight", "w").close()
    # replay batch 2 under a fresh checkpoint
    _run(spark, src2, corpus, str(tmp_path / "k3"))
    assert spark.read.parquet(corpus).count() == n0  # convergent
    healed = {r.fp for r in spark.read.parquet(idx_dir).select("fp").collect()}
    assert healed == full  # missing fingerprints re-appended
    assert not os.path.exists(idx_dir + ".inflight")


def test_deleted_corpus_invalidates_surviving_sidecar(spark, tmp_path):
    """An operator deletes the corpus (fresh ingestion, new checkpoint)
    but leaves the _exactidx sidecar behind. The first batch must
    invalidate it — appending into it and probing it would silently DROP
    any new document whose text matched a row of the old, gone corpus
    (the document would never be stored anywhere)."""
    import os
    import shutil

    from fest_vibes_ai_etl_spark.streaming.dedup_stream import (
        exact_index_path,
    )

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    src, corpus = str(tmp_path / "src"), str(tmp_path / "corpus")
    docs.filter("doc_id < 40").coalesce(1).write.parquet(src)
    _run(spark, src, corpus, str(tmp_path / "k1"))
    n = spark.read.parquet(corpus).count()
    assert n > 0
    # the corpus is deleted; the sidecar survives
    shutil.rmtree(corpus)
    assert os.path.exists(exact_index_path(corpus))
    # fresh ingestion of the SAME documents under a new checkpoint
    _run(spark, src, corpus, str(tmp_path / "k2"))
    assert spark.read.parquet(corpus).count() == n  # nothing dropped
    # and the rebuilt sidecar covers the new corpus exactly
    idx_fps = {
        r.fp
        for r in spark.read.parquet(exact_index_path(corpus))
        .select("fp").collect()
    }
    assert idx_fps == {
        r.fp for r in spark.read.parquet(corpus).select("fp").collect()
    }


def test_legacy_null_fp_history_converges(spark, tmp_path):
    # corpora written BEFORE the null-text sentinel hold fp=NULL rows;
    # the history side coalesces so an upgraded pipeline still converges
    # instead of re-appending the null-text row on every replay
    from pyspark.sql import functions as F

    corpus = str(tmp_path / "corpus")
    legacy = spark.createDataFrame(
        [(1, None, None), (2, "kept text", "k" * 32)],
        "doc_id long, text string, fp string",
    )
    legacy.write.parquet(corpus)

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(3, None), (4, "kept text")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_stream(
        make_exact_dedup_processor(corpus), stream, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    stored = spark.read.parquet(corpus)
    # doc 3 (null text) matches legacy doc 1's NULL fp via the coalesce —
    # not re-appended; doc 4 has a different md5 than the legacy fake fp,
    # so it IS appended
    ids = {r.doc_id for r in stored.select("doc_id").collect()}
    assert ids == {1, 2, 4}
