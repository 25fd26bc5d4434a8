"""Banded fingerprint index: partition-pruned probes, the incremental
dedup streams' stored sets, and crash-gap healing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fest_vibes_ai_etl_spark.streaming.banded_index import BandedFingerprintIndex
from fest_vibes_ai_etl_spark.streaming.incremental_near_dedup import (
    make_near_dedup_processor,
    near_index_path,
)
from fest_vibes_ai_etl_spark.streaming.incremental_span_dedup import (
    make_span_dedup_processor,
    span_index_path,
)
from fest_vibes_ai_etl_spark.streaming.state_store import start_stream

PASSAGE = "the quick brown fox jumps over the lazy dog near the river bank"
B1 = [(1, "alpha beta " + PASSAGE + " gamma delta epsilon"),
      (2, "unrelated first batch content about query engines and storage"),
      (3, "a third completely independent document mentioning nothing shared")]
B2 = [(10, "one two three " + PASSAGE + " four five six seven"),
      (11, "totally novel second batch document with fresh vocabulary"),
      (2000, "unrelated first batch content about query engines and storage")]


def _write_batches(spark, src):
    for i, rows in enumerate((B1, B2)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)


def _run_span(spark, src, corpus, ckpt, n_bands=16):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_stream(
        make_span_dedup_processor(corpus, k=20, w=15, min_shared=3, n_bands=n_bands),
        stream,
        ckpt,
    )
    assert q.awaitTermination(180), "stream did not finish in 180s"


def _run_near(spark, src, corpus, ckpt, n_buckets=16):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_stream(
        make_near_dedup_processor(
            corpus, k=3, num_hashes=32, bands=8, threshold=0.2,
            n_buckets=n_buckets,
        ),
        stream,
        ckpt,
    )
    assert q.awaitTermination(180), "stream did not finish in 180s"


def test_index_roundtrip_prunes_partitions(spark, tmp_path):
    pairs = spark.range(2000).select(F.col("id"), F.xxhash64("id").alias("fp"))
    idx = BandedFingerprintIndex(str(tmp_path / "idx"), "fp", n_bands=8)
    idx.build_from(pairs)
    # band directories on disk
    dirs = sorted(d for d in os.listdir(tmp_path / "idx") if d.startswith("pband="))
    assert dirs == [f"pband={i}" for i in range(8)]
    # pruned read returns exactly the rows of the requested bands, and the
    # plan prunes at the PARTITION level (not scan-then-filter)
    pruned = idx.read_bands(spark, [2, 5])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pband" in plan
    got = {(r.id, r.fp) for r in pruned.collect()}
    want = {
        (r.id, r.fp)
        for r in pairs.withColumn("b", F.pmod("fp", F.lit(8))).filter(
            F.col("b").isin([2, 5])
        ).collect()
    }
    assert got == want and got
    # append lands in the right bands and survives a re-read
    idx.append(spark.createDataFrame([(999999, 13)], "id long, fp long"))
    assert (999999, 13) in {
        (r.id, r.fp) for r in idx.read_bands(spark, [13 % 8]).collect()
    }


def test_index_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    idx = BandedFingerprintIndex(str(tmp_path / "idx"), "fp", n_bands=4)
    for batch in range(5):  # streaming shape: one small file per band per batch
        idx.append(
            spark.range(batch * 100, batch * 100 + 100).select(
                F.col("id"), F.xxhash64("id").alias("fp")
            )
        )
    before = {(r.id, r.fp) for r in spark.read.parquet(str(tmp_path / "idx")).select("id", "fp").collect()}

    def n_files():
        return sum(
            len([f for f in os.listdir(os.path.join(tmp_path / "idx", d)) if f.endswith(".parquet")])
            for d in os.listdir(tmp_path / "idx") if d.startswith("pband=")
        )

    files_before = n_files()
    assert files_before >= 20  # 5 appends x 4 bands
    idx.compact(spark)
    assert n_files() <= 4  # one file per band
    after = {(r.id, r.fp) for r in spark.read.parquet(str(tmp_path / "idx")).select("id", "fp").collect()}
    assert after == before
    # pruned reads still work post-compaction
    assert idx.read_bands(spark, [0]).count() > 0


def test_index_compaction_crash_recovery_and_refusal(spark, tmp_path):
    import shutil

    import pytest

    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    idx.append(spark.range(100).select(F.col("id"), F.xxhash64("id").alias("fp")))
    rows = {(r.id, r.fp) for r in spark.read.parquet(base).select("id", "fp").collect()}
    # crash between compact()'s two renames: live index only at _precompact
    os.rename(base, base + "_precompact")
    idx.compact(spark)  # must restore, then compact normally
    assert {(r.id, r.fp) for r in spark.read.parquet(base).select("id", "fp").collect()} == rows
    assert not os.path.exists(base + "_precompact")
    # both live and _precompact present: refuse rather than bury the live one
    shutil.copytree(base, base + "_precompact")
    with pytest.raises(RuntimeError, match="refusing to compact"):
        idx.compact(spark)
    assert os.path.exists(base) and os.path.exists(base + "_precompact")


def _stored_ids(spark, corpus):
    return {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}


def test_span_probe_stores_expected_ids(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batches(spark, src)
    _run_span(spark, src, str(tmp_path / "c"), str(tmp_path / "k"))
    # B1 is all fresh. The span rule fired cross-batch: 10 carries B1's
    # 63-char PASSAGE and shares 6 winnowed fingerprints with 1 (≥
    # min_shared = 3); 2000 is an exact dup of 2; 11 shares none
    assert _stored_ids(spark, str(tmp_path / "c")) == {1, 2, 3, 11}


def test_near_probe_stores_expected_ids(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batches(spark, src)
    _run_near(spark, src, str(tmp_path / "c"), str(tmp_path / "k"))
    # 2000 is an exact dup of 2; 10 shares PASSAGE's 11 word 3-shingles
    # with 1 (Jaccard 11 / (16 + 18 - 11) ≈ 0.48 ≥ 0.2, and the seeded
    # minhash bands of the two collide); 3 and 11 share nothing
    assert _stored_ids(spark, str(tmp_path / "c")) == {1, 2, 3, 11}


def _index_pairs(spark, idx_dir):
    return {
        (r.id, r.fp)
        for r in spark.read.parquet(idx_dir).select("id", "fp").collect()
    }


def _corpus_pairs(spark, corpus):
    return {
        (r.id, r.fp)
        for r in spark.read.parquet(corpus)
        .select(F.col("doc_id").alias("id"), F.explode("wfps").alias("fp"))
        .collect()
    }


def test_span_index_heals_after_crash_between_corpus_and_index(spark, tmp_path):
    """The crash model: a batch dies AFTER its corpus append but BEFORE
    its index append, leaving (a) corpus rows with no index pairs and (b)
    the in-flight marker. Checkpoint recovery replays exactly that batch;
    the replay must re-append the missing pairs (heal), append nothing to
    the corpus, and clear the marker. A clean run leaves no marker, so
    steady-state batches never pay the heal join."""
    from fest_vibes_ai_etl_spark.streaming.banded_index import (
        BandedFingerprintIndex,
    )

    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(B1, "doc_id long, text string").coalesce(1).write.parquet(src1)
    spark.createDataFrame(B2, "doc_id long, text string").coalesce(1).write.parquet(src2)
    _run_span(spark, src1, corpus, str(tmp_path / "k1"))
    _run_span(spark, src2, corpus, str(tmp_path / "k2"))
    idx_dir = span_index_path(corpus)
    full = _index_pairs(spark, idx_dir)
    assert full == _corpus_pairs(spark, corpus)
    n0 = spark.read.parquet(corpus).count()
    # clean runs leave no in-flight marker (heal stays zero-cost)
    assert not os.path.exists(idx_dir + ".inflight")
    # rewind the index to the pre-batch-2 state + plant the marker the
    # dying writer would have left: corpus row 11 now has no index pairs
    idx = BandedFingerprintIndex(idx_dir, "fp", n_bands=16)
    survivors = spark.read.parquet(idx_dir).select("id", "fp").filter("id != 11")
    idx.build_from(survivors)
    assert _index_pairs(spark, idx_dir) < full
    open(idx_dir + ".inflight", "w").close()
    # checkpoint recovery replays batch 2 (fresh checkpoint over src2)
    _run_span(spark, src2, corpus, str(tmp_path / "k3"))
    assert spark.read.parquet(corpus).count() == n0   # convergent
    assert _index_pairs(spark, idx_dir) == full       # healed
    assert not os.path.exists(idx_dir + ".inflight")  # marker cleared


def test_layout_meta_written_and_adopted(spark, tmp_path):
    """_meta.json is created with the data and a fresh instance with
    n_bands=None ADOPTS it — restarts can't drift the banding."""
    import json

    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=8)
    idx.build_from(spark.range(200).select(F.col("id"), F.xxhash64("id").alias("fp")))
    meta = json.load(open(base + "/_meta.json"))
    assert meta == {"key_col": "fp", "n_bands": 8, "schema_tag": None}
    reopened = BandedFingerprintIndex(base, "fp")  # n_bands unset
    assert reopened.exists(spark)
    assert reopened.n_bands == 8
    assert reopened.read_bands(spark, reopened.touched_bands(
        spark.createDataFrame([(3,)], "fp long")
    )) is not None
    # append under the adopted layout stays readable under the original
    reopened.append(spark.createDataFrame([(777, 21)], "id long, fp long"))
    assert (777, 21) in _index_pairs(spark, base)


def test_layout_mismatch_never_probes_wrong_subset(spark, tmp_path):
    """The round-7 latent hazard: reopening an index with a different
    n_bands used to silently prune the probe to band directories that
    were never written — historical duplicates passed undetected. The
    stored layout now always wins for n_bands (physical sizing: probing
    with the stored value is always correct, and pinning the constructor
    value would force a rebuild after every auto-reband), while key_col/
    schema_tag mismatches — differently-DERIVED keys — refuse loudly."""
    import pytest

    from fest_vibes_ai_etl_spark.streaming.banded_index import (
        BandedIndexLayoutError,
    )

    base = str(tmp_path / "idx")
    pairs = spark.range(200).select(F.col("id"), F.xxhash64("id").alias("fp"))
    BandedFingerprintIndex(
        base, "fp", n_bands=8, schema_tag="winnow:k=20,w=15"
    ).build_from(pairs)
    all_rows = _index_pairs(spark, base)
    # a different constructor n_bands ADOPTS the stored 8 — the probe is
    # computed under the stored banding, so it still finds everything
    wrong_n = BandedFingerprintIndex(base, "fp", n_bands=32)
    assert wrong_n.exists(spark)
    assert wrong_n.n_bands == 8
    some_id, some_fp = next(iter(all_rows))
    keys = spark.createDataFrame([(some_fp,)], "fp long")
    got = wrong_n.read_bands(spark, wrong_n.touched_bands(keys))
    assert (some_id, some_fp) in {(r.id, r.fp) for r in got.collect()}
    # appends land under the stored banding too
    wrong_n.append(spark.createDataFrame([(1, 1)], "id long, fp long"))
    assert (1, 1) in {
        (r.id, r.fp) for r in wrong_n.read_bands(spark, [1 % 8]).collect()
    }
    with pytest.raises(BandedIndexLayoutError, match="key_col"):
        BandedFingerprintIndex(base, "band_hash", n_bands=8).exists(spark)
    with pytest.raises(BandedIndexLayoutError, match="schema_tag"):
        BandedFingerprintIndex(
            base, "fp", n_bands=8, schema_tag="winnow:k=9,w=5"
        ).exists(spark)
    # invalidate resets the layout; a rebuild may then choose fresh params
    wrong_n.invalidate(spark)
    assert not os.path.exists(base)


def test_legacy_index_without_meta_always_refuses(spark, tmp_path):
    """Pre-round-8 indexes have no _meta.json. Band data whose true band
    count is unrecorded must NEVER be probed — an explicit n_bands can be
    cheaply disproven only when too small (a pband=N dir with N >= claim
    exists); a too-LARGE claim is unverifiable, and blessing it in
    _meta.json would make every later probe pmod under the wrong modulus
    and silently miss duplicates. So any pband data without meta refuses,
    explicit n_bands or not; the stream callers invalidate + rebuild from
    the authoritative corpus. A dataless directory (markers only, no
    pband= dirs) may still adopt an explicit n_bands: nothing to
    mis-probe."""
    import json

    import pytest

    from fest_vibes_ai_etl_spark.streaming.banded_index import (
        BandedIndexLayoutError,
    )

    base = str(tmp_path / "idx")
    BandedFingerprintIndex(base, "fp", n_bands=8).build_from(
        spark.range(100).select(F.col("id"), F.xxhash64("id").alias("fp"))
    )
    os.remove(base + "/_meta.json")  # simulate the legacy layout
    with pytest.raises(BandedIndexLayoutError, match="predates"):
        BandedFingerprintIndex(base, "fp").exists(spark)
    # the CORRECT historical count refuses too: indistinguishable from a
    # wrong too-large claim, and only refusal is safe for both
    with pytest.raises(BandedIndexLayoutError, match="predates"):
        BandedFingerprintIndex(base, "fp", n_bands=8).exists(spark)
    with pytest.raises(BandedIndexLayoutError, match="predates"):
        BandedFingerprintIndex(base, "fp", n_bands=1024).exists(spark)
    # the documented recovery: invalidate, rebuild from source pairs
    idx = BandedFingerprintIndex(base, "fp", n_bands=8)
    idx.invalidate(spark)
    idx.build_from(
        spark.range(100).select(F.col("id"), F.xxhash64("id").alias("fp"))
    )
    fresh = BandedFingerprintIndex(base, "fp")
    assert fresh.exists(spark) and fresh.n_bands == 8
    # dataless dir without meta: explicit n_bands may create the layout
    empty = str(tmp_path / "empty")
    os.makedirs(empty + "/_stale_marker_dir")
    claimed = BandedFingerprintIndex(empty, "fp", n_bands=16)
    assert claimed.exists(spark)
    assert json.load(open(empty + "/_meta.json"))["n_bands"] == 16


def test_auto_band_sizing_from_first_write(spark, tmp_path):
    """n_bands=None on a fresh index derives the band count from the
    first write's distinct-key count (8x headroom, clamped to
    [64, 65536]) instead of a flat constant."""
    import json

    small = BandedFingerprintIndex(str(tmp_path / "s"), "fp")
    small.append(spark.createDataFrame([(1, 5)], "id long, fp long"))
    assert small.n_bands == 64  # floor
    big = BandedFingerprintIndex(str(tmp_path / "b"), "fp")
    big.build_from(
        spark.range(100).select(F.col("id"), F.xxhash64("id").alias("fp"))
    )
    # 100 distinct keys x8 headroom = 800 -> next pow2 = 1024
    assert big.n_bands == 1024
    assert json.load(open(str(tmp_path / "b") + "/_meta.json"))["n_bands"] == 1024


def test_maintain_compacts_only_fragmented_bands(spark, tmp_path):
    """Per-band maintenance: bands over the file threshold are compacted
    to one file; untouched bands keep their exact files (byte-identical,
    never rewritten) — the property that makes maintain() affordable on a
    terabyte index where compact()'s full rewrite is not."""
    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=8)
    idx.build_from(spark.range(400).select(F.col("id"), F.xxhash64("id").alias("fp")))
    before = _index_pairs(spark, base)

    def band_files(b):
        d = os.path.join(base, f"pband={b}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    untouched = {b: band_files(b) for b in range(1, 8)}
    # fragment band 0 only: keys = multiples of 8 => pmod 0
    for i in range(10):
        idx.append(
            spark.createDataFrame([(10_000 + i, (i + 1) * 8)], "id long, fp long")
        )
    added = {(10_000 + i, (i + 1) * 8) for i in range(10)}
    assert len(band_files(0)) >= 10
    n = idx.maintain(spark, max_files_per_band=4)
    assert n == 1  # exactly the fragmented band
    assert len(band_files(0)) == 1
    for b, files in untouched.items():
        assert band_files(b) == files, f"band {b} was rewritten"
    assert _index_pairs(spark, base) == before | added
    assert idx.maintain(spark, max_files_per_band=4) == 0  # idempotent


def test_maintain_crash_recovery_restores_band(spark, tmp_path):
    """A crash between maintain()'s two renames leaves the live band copy
    under _bandold; the next maintain must restore it before doing
    anything else, and a stale _bandtmp staging dir is dropped."""
    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    idx.build_from(spark.range(100).select(F.col("id"), F.xxhash64("id").alias("fp")))
    before = _index_pairs(spark, base)
    os.makedirs(base + "_bandold")
    os.rename(os.path.join(base, "pband=2"), base + "_bandold/pband=2")
    os.makedirs(base + "_bandtmp/pband=9")  # stale staging
    assert idx.maintain(spark, max_files_per_band=4) == 0
    assert _index_pairs(spark, base) == before
    assert not os.path.exists(base + "_bandold")
    assert not os.path.exists(base + "_bandtmp")


def test_reband_preserves_rows_and_updates_meta(spark, tmp_path):
    """Re-banding rewrites the index under a new n_bands with the meta
    updated in the same directory swap: rows identical, probes correct
    under the new banding, no stale layout anywhere."""
    import json

    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    idx.build_from(spark.range(500).select(F.col("id"), F.xxhash64("id").alias("fp")))
    before = _index_pairs(spark, base)
    idx.reband(spark, 16)
    assert idx.n_bands == 16
    assert json.load(open(base + "/_meta.json"))["n_bands"] == 16
    assert _index_pairs(spark, base) == before
    # a probe under the new banding finds a known key
    some_id, some_fp = next(iter(before))
    keys = spark.createDataFrame([(some_fp,)], "fp long")
    got = idx.read_bands(spark, idx.touched_bands(keys))
    assert (some_id, some_fp) in {(r.id, r.fp) for r in got.collect()}
    # a fresh instance adopts the new layout
    assert BandedFingerprintIndex(base, "fp").exists(spark)
    assert not os.path.exists(base + "_rebandold")
    assert not os.path.exists(base + "_rebandtmp")


def test_maintain_auto_rebands_when_bands_outgrow_target(spark, tmp_path):
    """The frozen-banding gap: n_bands is sized at creation, so a corpus
    that keeps growing drags per-band volume (and probe bytes-read) up
    linearly. maintain() must detect average band size over the target
    and re-band geometrically."""
    import json

    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    idx.build_from(
        spark.range(4000).select(F.col("id"), F.xxhash64("id").alias("fp"))
    )
    before = _index_pairs(spark, base)
    total = sum(
        os.path.getsize(os.path.join(base, d, f))
        for d in os.listdir(base) if d.startswith("pband=")
        for f in os.listdir(os.path.join(base, d)) if f.endswith(".parquet")
    )
    target = total // 16  # force at least two doublings: 4 -> >= 16
    n = idx.maintain(spark, target_band_bytes=target)
    assert idx.n_bands >= 16 and n == idx.n_bands
    assert json.load(open(base + "/_meta.json"))["n_bands"] == idx.n_bands
    assert _index_pairs(spark, base) == before
    # under target again: no further reband
    assert idx.maintain(spark, target_band_bytes=target) == 0


def test_reband_crash_recovery(spark, tmp_path):
    """Crash windows of the re-band swap. After the rename-out the staged
    copy is COMPLETE (data + its own meta were fully written before any
    rename), so recovery promotes it; a superseded old copy next to a
    live index is deleted; stale staging alone is dropped."""
    import json
    import shutil

    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    idx.build_from(spark.range(300).select(F.col("id"), F.xxhash64("id").alias("fp")))
    rows = _index_pairs(spark, base)
    old_copy = str(tmp_path / "old_copy")
    shutil.copytree(base, old_copy)  # the pre-reband state
    idx.reband(spark, 8)
    # window: crashed between rename-out and rename-in — live missing,
    # _rebandold = old banding, _rebandtmp = new complete copy
    os.rename(base, base + "_rebandtmp")
    shutil.copytree(old_copy, base + "_rebandold")
    fresh = BandedFingerprintIndex(base, "fp")
    assert fresh.maintain(spark) == 0  # recovery runs first
    assert json.load(open(base + "/_meta.json"))["n_bands"] == 8  # promoted NEW
    assert fresh.n_bands == 8
    assert _index_pairs(spark, base) == rows
    assert not os.path.exists(base + "_rebandold")
    assert not os.path.exists(base + "_rebandtmp")
    # window: crashed after rename-in, before deleting the old copy
    shutil.copytree(old_copy, base + "_rebandold")
    idx2 = BandedFingerprintIndex(base, "fp")
    assert idx2.maintain(spark) == 0
    assert _index_pairs(spark, base) == rows
    assert json.load(open(base + "/_meta.json"))["n_bands"] == 8  # live kept
    assert not os.path.exists(base + "_rebandold")


def test_crashed_compact_recovered_at_open(spark, tmp_path):
    """A death between compact()'s two renames leaves the live index at
    _precompact. A fresh open must restore it — otherwise exists()
    reports the index gone (full silent rebuild) and the stale
    _precompact poisons every later compact() with the both-exist
    refusal. The both-present case stays compact()'s loud refusal."""
    import shutil

    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    idx.build_from(spark.range(100).select(F.col("id"), F.xxhash64("id").alias("fp")))
    rows = _index_pairs(spark, base)
    os.rename(base, base + "_precompact")
    os.makedirs(base + "_compacting")  # possibly-partial staging
    fresh = BandedFingerprintIndex(base, "fp")
    assert fresh.exists(spark)  # open-time heal restored the live index
    assert _index_pairs(spark, base) == rows
    assert not os.path.exists(base + "_precompact")
    assert not os.path.exists(base + "_compacting")
    # ambiguous both-present state is untouched by opens
    shutil.copytree(base, base + "_precompact")
    another = BandedFingerprintIndex(base, "fp")
    assert another.exists(spark)
    assert os.path.exists(base + "_precompact")


def test_span_stream_deleted_corpus_invalidates_sidecars(spark, tmp_path):
    """Deleting the corpus but not its sidecars must not let the first
    batch of a fresh ingestion probe (or append into) indexes describing
    the OLD corpus — the span probe would drop fresh docs sharing a
    passage with gone history, losing them forever."""
    src, corpus = str(tmp_path / "src"), str(tmp_path / "corpus")
    spark.createDataFrame(B1, "doc_id long, text string").coalesce(1).write.parquet(src)
    _run_span(spark, src, corpus, str(tmp_path / "k1"))
    assert _stored_ids(spark, corpus) == {1, 2, 3}
    import shutil

    shutil.rmtree(corpus)
    from fest_vibes_ai_etl_spark.streaming.dedup_stream import (
        exact_index_path,
    )

    assert os.path.exists(span_index_path(corpus))
    _run_span(spark, src, corpus, str(tmp_path / "k2"))
    assert _stored_ids(spark, corpus) == {1, 2, 3}  # nothing dropped
    # the rebuilt sidecars cover the new corpus exactly
    assert _index_pairs(spark, span_index_path(corpus)) == _corpus_pairs(spark, corpus)
    exact = {
        (r.id, r.fp)
        for r in spark.read.parquet(exact_index_path(corpus))
        .select("id", "fp").collect()
    }
    assert exact == {
        (r.doc_id, r.fp)
        for r in spark.read.parquet(corpus).select("doc_id", "fp").collect()
    }


def test_near_heal_catches_batchmate_of_replayed_doc(spark, tmp_path):
    """The near-stream twin of the span heal batch-mate case: the crashed
    attempt stored doc A (within-batch near-dup rule kept it), died
    before the index appends. On replay A drops as an exact replay, its
    batch-mate B (near-dup of A) has no within-batch partner, and the
    band index is missing exactly A's rows — the candidate target must
    include the heal rows or B slips past."""
    from fest_vibes_ai_etl_spark.streaming.banded_index import (
        BandedFingerprintIndex,
    )
    from fest_vibes_ai_etl_spark.streaming.incremental_near_dedup import (
        _with_signatures,
    )
    from fest_vibes_ai_etl_spark.streaming.dedup_stream import (
        exact_index_path,
    )

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    base_text = "the quick brown fox jumps over the lazy dog near the river"
    a = (1, base_text)
    b = (2, base_text + " bank")  # high-Jaccard near-dup of A
    spark.createDataFrame([a, b], "doc_id long, text string").coalesce(
        1
    ).write.parquet(src)
    # the crashed attempt's state: A stored with signatures, indexes
    # missing A's rows entirely, marker up
    adf = spark.createDataFrame([a], "doc_id long, text string")
    _with_signatures(adf, "doc_id", "text", 3, 32).write.parquet(corpus)
    idx = BandedFingerprintIndex(
        near_index_path(corpus), "band_hash", n_bands=16,
        schema_tag="minhash:k=3,nh=32,bands=8",
    )
    idx.build_from(
        spark.createDataFrame([(99, 0, 777)], "id long, band int, band_hash long")
    )
    eidx = BandedFingerprintIndex(
        exact_index_path(corpus), "fpk", n_bands=16,
        schema_tag="exact:md5-xxh64",
    )
    eidx.build_from(
        spark.createDataFrame([(99, "zz", 5)], "id long, fp string, fpk long")
    )
    open(near_index_path(corpus) + ".inflight", "w").close()
    _run_near(spark, src, corpus, str(tmp_path / "ckpt"), n_buckets=16)
    ids = _stored_ids(spark, corpus)
    assert ids == {1}, f"B escaped the heal-path near-dup check: {ids}"
    assert not os.path.exists(near_index_path(corpus) + ".inflight")


def test_legacy_sibling_meta_is_adopted(spark, tmp_path):
    """Early builds kept _meta.json as a SIBLING file; reads must fall
    back to it so those indexes open without a rebuild."""
    import shutil

    base = str(tmp_path / "idx")
    BandedFingerprintIndex(base, "fp", n_bands=8).build_from(
        spark.range(100).select(F.col("id"), F.xxhash64("id").alias("fp"))
    )
    shutil.move(base + "/_meta.json", base + "_meta.json")
    fresh = BandedFingerprintIndex(base, "fp")
    assert fresh.exists(spark)
    assert fresh.n_bands == 8


def test_span_stream_restart_with_different_n_bands_stays_correct(spark, tmp_path):
    """End-to-end restart-with-different-banding: batch 1 runs with
    n_bands=16, the restarted stream runs with n_bands=32. Before the
    layout meta, the 32-band probe silently read wrong directories and
    ADMITTED the duplicates in B2 (10 carries B1's passage, 2000 is an
    exact dup of 2); now the restarted stream ADOPTS the stored 16-band
    layout (no rebuild — n_bands is sizing, not semantics) and still
    drops them."""
    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(B1, "doc_id long, text string").coalesce(1).write.parquet(src1)
    spark.createDataFrame(B2, "doc_id long, text string").coalesce(1).write.parquet(src2)
    _run_span(spark, src1, corpus, str(tmp_path / "k1"), n_bands=16)
    _run_span(spark, src2, corpus, str(tmp_path / "k2"), n_bands=32)
    ids = _stored_ids(spark, corpus)
    assert 10 not in ids and 2000 not in ids and {1, 2, 3, 11} <= ids
    # the stored layout won; the index stayed consistent with the corpus
    import json

    idx_dir = span_index_path(corpus)
    assert json.load(open(idx_dir + "/_meta.json"))["n_bands"] == 16
    assert _index_pairs(spark, idx_dir) == _corpus_pairs(spark, corpus)


def test_stranded_band_recovered_at_open(spark, tmp_path):
    """A process death between maintain()'s two per-band renames leaves a
    band at _bandold and missing from the live root. Opens (exists/
    read_bands) must heal it BEFORE probing — otherwise every probe
    silently misses that band's history until the next maintain() call,
    and a replayed batch whose fps hash there re-appends duplicates."""
    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    idx.build_from(spark.range(200).select(F.col("id"), F.xxhash64("id").alias("fp")))
    rows = _index_pairs(spark, base)
    # simulate the crash window: band 2 renamed out, staged copy lost
    os.makedirs(base + "_bandold")
    os.rename(os.path.join(base, "pband=2"), base + "_bandold/pband=2")
    fresh = BandedFingerprintIndex(base, "fp")
    assert fresh.exists(spark)  # open runs recovery
    assert os.path.exists(os.path.join(base, "pband=2"))
    assert not os.path.exists(base + "_bandold")
    assert _index_pairs(spark, base) == rows
    # and a probe into the recovered band sees its rows
    got = fresh.read_bands(spark, [2])
    assert {(r.id, r.fp) for r in got.collect()} == {
        (i, f) for (i, f) in rows if f % 4 == 2
    }


def test_crashed_reband_recovered_at_open(spark, tmp_path):
    """A crashed re-band can leave the live directory itself missing
    (content at _rebandtmp/_rebandold). exists()/read_bands must promote
    the staged copy instead of reporting the index gone (which would
    trigger a full rebuild) or, worse, probing nothing."""
    import json
    import shutil

    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    idx.build_from(spark.range(200).select(F.col("id"), F.xxhash64("id").alias("fp")))
    rows = _index_pairs(spark, base)
    old_copy = str(tmp_path / "old_copy")
    shutil.copytree(base, old_copy)
    idx.reband(spark, 8)
    os.rename(base, base + "_rebandtmp")
    shutil.copytree(old_copy, base + "_rebandold")
    fresh = BandedFingerprintIndex(base, "fp")
    assert fresh.exists(spark)  # recovery promoted the staged copy
    assert fresh.n_bands == 8
    assert json.load(open(base + "/_meta.json"))["n_bands"] == 8
    assert _index_pairs(spark, base) == rows
    assert not os.path.exists(base + "_rebandold")
    assert not os.path.exists(base + "_rebandtmp")


def test_span_heal_catches_batchmate_of_replayed_doc(spark, tmp_path):
    """Post-crash replay, the sharpest corner: the crashed attempt kept
    doc A (within-batch rule), stored it, and died before the index
    append. On replay A is dropped as an exact replay, so its batch-mate
    B — which shares a passage with A — has no within-batch partner, and
    the index is missing exactly A's pairs. The history probe must treat
    the heal rows as stored history, or B slips through and two stored
    docs share a passage (replay divergence)."""
    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    a = (1, "alpha beta " + PASSAGE + " gamma delta epsilon")
    b = (2, "one two three " + PASSAGE + " four five six")
    spark.createDataFrame([a, b], "doc_id long, text string").coalesce(
        1
    ).write.parquet(src)
    # batch 0 state as the crashed attempt left it: A stored in the
    # corpus (with fp + wfps), NO index rows, marker up
    from fest_vibes_ai_etl_spark.operators.dedup import winnow_fingerprints
    from fest_vibes_ai_etl_spark.streaming.dedup_stream import (
        exact_index_path,
        fingerprint,
    )

    adf = spark.createDataFrame([a], "doc_id long, text string")
    wf = winnow_fingerprints(adf, "doc_id", "text", k=20, w=15)
    wfps = wf.groupBy("id").agg(F.array_sort(F.collect_list("fp")).alias("wfps"))
    (
        adf.withColumn("fp", fingerprint("text"))
        .join(wfps.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .write.parquet(corpus)
    )
    # the indexes exist but are missing A's rows entirely (built empty
    # via a build over zero rows is awkward — build them over an
    # unrelated doc to give them a real layout)
    filler = spark.createDataFrame(
        [(99, 777)], "id long, fp long"
    )
    idx = BandedFingerprintIndex(
        span_index_path(corpus), "fp", n_bands=16,
        schema_tag="winnow:k=20,w=15",
    )
    idx.build_from(filler)
    eidx = BandedFingerprintIndex(
        exact_index_path(corpus), "fpk", n_bands=16,
        schema_tag="exact:md5-xxh64",
    )
    eidx.build_from(
        spark.createDataFrame([(99, "zz", 5)], "id long, fp string, fpk long")
    )
    open(span_index_path(corpus) + ".inflight", "w").close()
    _run_span(spark, src, corpus, str(tmp_path / "ckpt"), n_bands=16)
    ids = _stored_ids(spark, corpus)
    assert ids == {1}, f"B escaped the heal-path span check: {ids}"
    # and the heal re-appended A's pairs
    pairs = _index_pairs(spark, span_index_path(corpus))
    assert {(i, f) for (i, f) in pairs if i == 1} == {
        (r.id, r.fp) for r in wf.collect()
    }
    assert not os.path.exists(span_index_path(corpus) + ".inflight")


def test_near_stream_rebuilds_on_key_derivation_change(spark, tmp_path):
    """Same banding over differently-DERIVED keys is just as wrong as a
    different banding: restarting the near stream with a different LSH
    band count changes the schema_tag, so the stream must rebuild the
    sidecar instead of probing stale band hashes (which would miss every
    historical near-dup)."""
    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(B1, "doc_id long, text string").coalesce(1).write.parquet(src1)
    spark.createDataFrame(B2, "doc_id long, text string").coalesce(1).write.parquet(src2)

    def run(src, ckpt, bands):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = start_stream(
            make_near_dedup_processor(
                corpus, k=3, num_hashes=32, bands=bands, threshold=0.2,
                n_buckets=16,
            ),
            stream,
            ckpt,
        )
        assert q.awaitTermination(180), "stream did not finish in 180s"

    run(src1, str(tmp_path / "k1"), bands=8)
    run(src2, str(tmp_path / "k2"), bands=4)
    ids = _stored_ids(spark, corpus)
    assert 2000 not in ids and {1, 2, 3} <= ids
    import json

    meta = json.load(open(near_index_path(corpus) + "/_meta.json"))
    assert meta["schema_tag"] == "minhash:k=3,nh=32,bands=4"


def test_span_stream_soak_bounds_files_and_caches(spark, tmp_path):
    """50-micro-batch soak of the span stream (VERDICT r8 #4/#5): the
    between-batch maintenance hook must bound per-band file growth in
    BOTH sidecars, the per-batch cache entries must return to baseline
    (the round-7 leak class), no in-flight marker may survive, and the
    indexes must still exactly cover the corpus afterwards."""
    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    # per-doc-unique tokens: the longest substring two docs share is
    # shorter than k=8, so zero shared fingerprints — every doc is fresh
    # and every batch appends (the soak needs the indexes to GROW)
    rows = [
        (i, " ".join(f"u{i}q{j}r" for j in range(12))) for i in range(50)
    ]
    for i, row in enumerate(rows):  # one file per micro-batch
        spark.createDataFrame([row], "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
    jsc = spark.sparkContext._jsc.sc()
    cached_before = jsc.getPersistentRDDs().size()
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_stream(
        make_span_dedup_processor(
            corpus, k=8, w=4, min_shared=3, n_bands=16,
            maintain_every=10, maintain_max_files=4,
        ),
        stream,
        str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(600), "stream did not finish in 600s"
    assert jsc.getPersistentRDDs().size() == cached_before  # no cache leak
    idx_dir = span_index_path(corpus)
    from fest_vibes_ai_etl_spark.streaming.dedup_stream import (
        exact_index_path,
    )

    for d in (idx_dir, exact_index_path(corpus)):
        assert not os.path.exists(d + ".inflight")
        worst = max(
            len([f for f in os.listdir(os.path.join(d, p)) if f.endswith(".parquet")])
            for p in os.listdir(d) if p.startswith("pband=")
        )
        # between maintains (every 10 batches) a band gains at most
        # maintain_every new files on top of the compacted max_files
        assert worst <= 4 + 10, f"{d}: worst band has {worst} files"
    # the indexes still exactly cover the corpus
    assert _index_pairs(spark, idx_dir) == _corpus_pairs(spark, corpus)
    stored = spark.read.parquet(corpus)
    exact_pairs = {
        (r.id, r.fp)
        for r in spark.read.parquet(exact_index_path(corpus))
        .select("id", "fp").collect()
    }
    assert exact_pairs == {
        (r.doc_id, r.fp) for r in stored.select("doc_id", "fp").collect()
    }


def test_maintain_detection_is_batch_proportional(spark, tmp_path):
    """Round-8 verdict's scale seam: maintain()'s detection walk must
    list only the bands dirtied since the last maintenance (the touched
    sets appends pass along), not every pband= directory — at the
    deployment shape an index-sized walk is ~65k LIST calls per tick.
    The first tick after an unknown state (fresh instance / build_from /
    crash recovery) pays one full walk to seed the byte cache; later
    ticks are dirty-only, with the dirty set fed exactly by what each
    append reports it wrote."""
    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=16)
    idx.build_from(
        spark.range(400).select(F.col("id"), F.xxhash64("id").alias("fp"))
    )
    before = _index_pairs(spark, base)
    # tick 1: state unknown after build_from -> one full walk
    assert idx.maintain(spark, max_files_per_band=4) == 0
    assert idx.last_maintain_walk == "full"
    assert idx.last_maintain_inspected == list(range(16))
    # fragment band 3 only (fp = 16i + 3 => pmod(fp, 16) = 3); the append
    # itself reports the bands it wrote
    added = set()
    for i in range(6):
        wrote = idx.append(
            spark.createDataFrame(
                [(20_000 + i, 16 * i + 3)], "id long, fp long"
            )
        )
        assert wrote == [3]
        added.add((20_000 + i, 16 * i + 3))
    n = idx.maintain(spark, max_files_per_band=4)
    assert n == 1  # exactly the fragmented band
    assert idx.last_maintain_walk == "dirty"
    assert idx.last_maintain_inspected == [3]  # ONLY the dirty band listed
    assert _index_pairs(spark, base) == before | added
    # the next tick has nothing dirty: zero directories listed
    assert idx.maintain(spark, max_files_per_band=4) == 0
    assert idx.last_maintain_walk == "dirty"
    assert idx.last_maintain_inspected == []
    # crash-recovery residue (a stale _bandtmp staging dir) invalidates
    # the bookkeeping: the next tick re-learns with one full walk
    os.makedirs(base + "_bandtmp/pband=99")
    assert idx.maintain(spark, max_files_per_band=4) == 0
    assert idx.last_maintain_walk == "full"
    assert _index_pairs(spark, base) == before | added


def test_reband_triggers_from_running_byte_cache(spark, tmp_path):
    """The re-banding byte trigger must fire on a DIRTY-ONLY tick from
    the running per-band byte cache (seeded by the last full walk,
    refreshed for the bands each tick lists) — growth detection must not
    need an index-sized walk of its own."""
    import json

    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    idx.build_from(
        spark.range(100).select(F.col("id"), F.xxhash64("id").alias("fp"))
    )
    before = _index_pairs(spark, base)
    # seed the byte cache (byte check disabled on this tick)
    idx.maintain(spark, max_files_per_band=99, target_band_bytes=None)
    assert idx.last_maintain_walk == "full"
    # grow band 1 hard (every fp ≡ 1 mod 4)
    grown = spark.range(4000).select(
        (F.col("id") + 100_000).alias("id"), (F.col("id") * 4 + 1).alias("fp")
    )
    assert idx.append(grown) == [1]
    rewritten = idx.maintain(
        spark, max_files_per_band=99, target_band_bytes=2048
    )
    assert idx.last_maintain_walk == "dirty"
    assert idx.last_maintain_inspected == [1]
    assert rewritten == idx.n_bands and idx.n_bands > 4  # re-band fired
    assert json.load(open(base + "/_meta.json"))["n_bands"] == idx.n_bands
    grown_pairs = {(r.id, r.fp) for r in grown.collect()}
    assert _index_pairs(spark, base) == before | grown_pairs


def test_combined_touched_bands_matches_per_index(spark, tmp_path):
    """The fused one-job collect must return exactly what the per-index
    touched_bands calls return, for indexes with different band counts
    and key columns."""
    from fest_vibes_ai_etl_spark.streaming.banded_index import (
        combined_touched_bands,
    )

    a = BandedFingerprintIndex(str(tmp_path / "a"), "fp", n_bands=8)
    a.build_from(
        spark.range(200).select(F.col("id"), F.xxhash64("id").alias("fp"))
    )
    b = BandedFingerprintIndex(str(tmp_path / "b"), "fpk", n_bands=32)
    b.build_from(
        spark.range(200).select(F.col("id"), F.xxhash64("id", "id").alias("fpk"))
    )
    keys_a = spark.createDataFrame([(3,), (11,), (-5,)], "fp long")
    keys_b = spark.createDataFrame([(7,), (64,), (-1,)], "fpk long")
    got_a, got_b = combined_touched_bands(spark, [(a, keys_a), (b, keys_b)])
    assert sorted(got_a) == sorted(a.touched_bands(keys_a))
    assert sorted(got_b) == sorted(b.touched_bands(keys_b))
    assert got_a and got_b


def test_maintain_sweeps_crashed_append_temps(spark, tmp_path):
    """A crashed direct append leaves _tmp- staging files: invisible to
    readers (underscore prefix) and excluded from fragmentation/byte
    counts, but they must also be DELETED by the maintenance walks —
    single-writer discipline means any temp maintain() sees is garbage,
    and without the sweep they'd accumulate in band dirs forever."""
    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    idx.build_from(
        spark.range(100).select(F.col("id"), F.xxhash64("id").alias("fp"))
    )
    before = _index_pairs(spark, base)
    junk = os.path.join(base, "pband=1", "_tmp-deadbeef.parquet")
    with open(junk, "wb") as fh:
        fh.write(b"torn partial bytes")
    # reads ignore the temp; the FULL walk neither counts nor compacts
    # it, and sweeps it
    assert _index_pairs(spark, base) == before
    assert idx.maintain(spark, max_files_per_band=99) == 0
    assert idx.last_maintain_walk == "full"
    assert not os.path.exists(junk)
    # same through the DIRTY walk: dirty band 1 via a real append, plant
    # another temp beside it
    assert idx.append(
        spark.createDataFrame([(7777, 5)], "id long, fp long")
    ) == [1]
    junk2 = os.path.join(base, "pband=1", "_tmp-cafebabe.parquet")
    with open(junk2, "wb") as fh:
        fh.write(b"torn again")
    assert idx.maintain(spark, max_files_per_band=99) == 0
    assert idx.last_maintain_walk == "dirty"
    assert not os.path.exists(junk2)
    assert _index_pairs(spark, base) == before | {(7777, 5)}


def test_append_final_names_are_deterministic_per_append(spark, tmp_path):
    """Task retries/speculation must REPLACE a band's file, not add a
    second one: the final name is keyed by (append id, band), with only
    the staging name per-attempt. Two separate appends still coexist
    (different append ids)."""
    import re

    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    assert idx.append(
        spark.createDataFrame([(1, 5), (2, 9)], "id long, fp long")
    ) == [1]
    assert idx.append(
        spark.createDataFrame([(3, 13)], "id long, fp long")
    ) == [1]
    files = sorted(os.listdir(os.path.join(base, "pband=1")))
    assert len(files) == 2  # one per append, none per attempt
    pat = re.compile(r"^part-[0-9a-f]{32}-b1\.parquet$")
    assert all(pat.match(f) for f in files), files
    assert _index_pairs(spark, base) == {(1, 5), (2, 9), (3, 13)}


def test_failed_append_degrades_dirty_tracking_to_full_walk(
    spark, tmp_path, monkeypatch
):
    """A mid-job append death can strand _tmp- staging files in bands
    the dirty set never learned (the exception propagates before the
    band report lands): the failure must degrade tracking to the
    full-walk state so the NEXT maintain() lists everything and sweeps
    the temps — otherwise they'd accumulate invisibly until a process
    restart."""
    import pytest

    from fest_vibes_ai_etl_spark.streaming import banded_index as bi

    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=4)
    pairs = spark.range(40).select(F.col("id"), F.xxhash64("id").alias("fp"))
    idx.append(pairs)
    idx.maintain(spark)  # seed the byte cache: dirty mode from here on
    assert idx._dirty_bands == set() and idx._band_bytes is not None

    real_writer = bi._make_band_writer

    def dying_writer(dests):
        dest = dests[0]["dest"]

        def writer(batches):
            # a real task's first act: stage a temp — then die before
            # the rename, like a process kill mid-append
            import os
            import uuid

            list(batches)
            band_dir = f"{dest}/pband=0"
            os.makedirs(band_dir, exist_ok=True)
            with open(f"{band_dir}/_tmp-{uuid.uuid4().hex}.parquet", "wb") as f:
                f.write(b"torn partial bytes")
            raise RuntimeError("injected mid-append death")
            yield  # pragma: no cover - marks this a generator

        return writer

    monkeypatch.setattr(bi, "_make_band_writer", dying_writer)
    with pytest.raises(Exception):
        idx.append(pairs)
    monkeypatch.setattr(bi, "_make_band_writer", real_writer)
    # tracking degraded: the failure reset both dirty set and byte cache
    assert idx._dirty_bands is None and idx._band_bytes is None
    # the next maintain() full-walks and sweeps the stranded temps
    temps_before = [
        f
        for f in os.listdir(os.path.join(base, "pband=0"))
        if f.startswith("_tmp-")
    ]
    assert temps_before, "the injected death should have staged a temp"
    idx.maintain(spark, max_files_per_band=99)
    assert idx.last_maintain_walk == "full"
    assert not any(
        f.startswith("_tmp-")
        for band in os.listdir(base)
        if band.startswith("pband=")
        for f in os.listdir(os.path.join(base, band))
    )


def test_destination_mapping_trusts_local_s3_and_probed_schemes(monkeypatch):
    """The scheme->destination mapping behind direct appends: local and
    s3 map unconditionally; hdfs/gs/abfs map ONLY when the driver-side
    pyarrow construction probe succeeds — no silent committer fallback
    on exactly the filesystems real clusters use, and no executor-wide
    failures when a native lib is absent. The abfs CONTAINER (the URI's
    userinfo) must be preserved — dropping it would write into the
    wrong container. (No HDFS in-sandbox: that probe is faked; gs/abfs
    construction is real — pyarrow ships both filesystems.)"""
    from fest_vibes_ai_etl_spark.streaming import banded_index as bi

    assert bi._map_destination("file", None, None, None, "/idx") == (
        "local", "/idx", None
    )
    assert bi._map_destination("s3a", None, "bkt", None, "/idx") == (
        "s3", "s3://bkt/idx", None
    )
    # gs/abfs probes run against the REAL pyarrow filesystems
    assert bi._map_destination("gs", None, "bucket", None, "/idx") == (
        "gs", "gs://bucket/idx", None
    )
    assert bi._map_destination(
        "abfss", "container", "acct.dfs.core.windows.net", None, "/idx"
    ) == ("abfss", "abfss://container@acct.dfs.core.windows.net/idx", None)
    probed = []
    monkeypatch.setattr(
        bi,
        "_pyarrow_filesystem",
        lambda kind, dest, opts: probed.append((kind, dest)) or (object(), "/idx"),
    )
    assert bi._map_destination("hdfs", None, "nn", 8020, "/idx") == (
        "hdfs", "hdfs://nn:8020/idx", None
    )
    assert probed == [("hdfs", "hdfs://nn:8020/idx")]

    def failing_probe(kind, dest, opts):
        raise OSError("Unable to load libhdfs")

    monkeypatch.setattr(bi, "_pyarrow_filesystem", failing_probe)
    kind, dest, reason = bi._map_destination("hdfs", None, "nn", 8020, "/idx")
    assert kind is None and dest is None and "libhdfs" in reason
    kind, dest, reason = bi._map_destination("wasbs", "c", "a.net", None, "/p")
    assert kind is None and "wasbs" in reason


@pytest.mark.parametrize("family", ["banded", "ivf", "search"])
def test_committer_fallback_warns_once_per_store(
    spark, tmp_path, monkeypatch, caplog, family
):
    """An untrusted destination falls back to the committer with ONE
    warning per store, naming the store path and the per-directory cost,
    however many batches append — a production stream on such a
    filesystem can't silently reinstate the 12 s-per-dense-append driver
    tax. The resolution (and with it the hdfs probe) runs once per
    store, and the rows land. Every family's stores are covered: the
    banded index, the IVF add processor's cells, and the search
    processor's postings, forward and doc-id stores."""
    import logging

    from conftest import SF_DIR

    from fest_vibes_ai_etl_spark.operators import ivf
    from fest_vibes_ai_etl_spark.sources import table
    from fest_vibes_ai_etl_spark.streaming import banded_index as bi
    from fest_vibes_ai_etl_spark.streaming import incremental_search as inc

    resolved = []

    def untrusted(spark_, path):
        resolved.append(path)
        return None, None, "no trusted pyarrow mapping for filesystem scheme 'gs'"

    monkeypatch.setattr(bi, "_resolve_direct_destination", untrusted)
    root = str(tmp_path / "store")
    if family == "banded":
        idx = BandedFingerprintIndex(root, "fp", n_bands=4)
        stores = [root]

        def run(i):
            ids = spark.range(i * 20, i * 20 + 20)
            idx.append(ids.select(F.col("id"), F.xxhash64("id").alias("fp")))

        def landed():
            assert spark.read.parquet(root).count() == 40

    elif family == "ivf":
        emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
        _, centers = ivf.build_ivf_index(emb.filter("vec_id < 300"), k=8, seed=7)
        process = ivf.make_index_add_processor(root, centers)
        stores = [root]

        def run(i):
            process(emb.filter(f"vec_id >= {i * 40} and vec_id < {i * 40 + 40}"), i)

        def landed():
            assert spark.read.parquet(root).count() == 80

    else:
        process = inc.make_search_index_processor(root, n_term_buckets=8)
        stores = [root + "/postings", root + "/forward", root + "_docidx"]
        docs = [
            [(1, "merge hash window"), (2, "hash join spill")],
            [(3, "window merge sort"), (4, "spill to disk")],
        ]

        def run(i):
            process(spark.createDataFrame(docs[i], "doc_id long, text string"), i)

        def landed():
            assert spark.read.parquet(root + "/doclen").count() == 4
            post = spark.read.parquet(root + "/postings")
            fw = spark.read.parquet(root + "/forward")
            n = post.select("term", "doc_id").distinct().count()
            assert post.count() == fw.count() == n > 0

    with caplog.at_level(logging.WARNING, logger=bi.__name__):
        run(0)
        run(1)
    warnings = [
        r.getMessage()
        for r in caplog.records
        if "dynamic-partition committer" in r.getMessage()
    ]
    for store in stores:
        naming = [w for w in warnings if f"partitioned store {store}:" in w]
        assert len(naming) == 1, (store, warnings)  # loud, once
        assert "'gs'" in naming[0]
        assert "per partition directory per append" in naming[0]
    assert len(warnings) == len(stores)
    assert sorted(resolved) == sorted(stores)  # once per store
    landed()


def test_append_many_matches_sequential_appends(spark, tmp_path):
    """The fused two-sidecar append must land byte-equivalent CONTENT to
    two per-index appends — including across the schema split the real
    sidecars have (string fp + long fpk vs a data column literally named
    'band') — and report each index's band set exactly."""
    from fest_vibes_ai_etl_spark.streaming.banded_index import append_many

    exact_pairs = spark.range(30).select(
        F.col("id"),
        F.md5(F.col("id").cast("string")).alias("fp"),
        F.xxhash64(F.col("id").cast("string")).alias("fpk"),
    )
    band_pairs = spark.range(30).select(
        F.col("id"),
        (F.col("id") % 8).cast("int").alias("band"),
        (F.col("id") * 13).alias("band_hash"),
    )
    fused_e = BandedFingerprintIndex(str(tmp_path / "f_e"), "fpk", n_bands=4)
    fused_b = BandedFingerprintIndex(str(tmp_path / "f_b"), "band_hash", n_bands=4)
    got = append_many([(fused_e, exact_pairs), (fused_b, band_pairs)])
    solo_e = BandedFingerprintIndex(str(tmp_path / "s_e"), "fpk", n_bands=4)
    solo_b = BandedFingerprintIndex(str(tmp_path / "s_b"), "band_hash", n_bands=4)
    want = [solo_e.append(exact_pairs), solo_b.append(band_pairs)]
    assert got == want
    for fused, solo in ((fused_e, solo_e), (fused_b, solo_b)):
        f = spark.read.parquet(fused.path)
        s = spark.read.parquet(solo.path)
        assert f.schema == s.schema
        assert sorted(map(tuple, f.collect())) == sorted(map(tuple, s.collect()))
        assert fused._dirty_bands == solo._dirty_bands
    # one file per (index, band), deterministic names, same as solo
    for fused in (fused_e, fused_b):
        for band in os.listdir(fused.path):
            if not band.startswith("pband="):
                continue
            files = os.listdir(os.path.join(fused.path, band))
            assert len([x for x in files if x.endswith(".parquet")]) == 1


def test_bookkeeping_failure_after_fused_write_degrades_all_specs(
    spark, tmp_path, monkeypatch
):
    """The fused append's POST-write bookkeeping can also fail (e.g. a
    creating spec's meta write): by then band files HAVE landed, so every
    spec's dirty tracking must degrade to the full-walk state — a spec
    later in the loop would otherwise keep a dirty set that never
    learned this append's bands."""
    import pytest

    from fest_vibes_ai_etl_spark.streaming.banded_index import append_many

    pairs = spark.range(20).select(F.col("id"), F.xxhash64("id").alias("fp"))
    a = BandedFingerprintIndex(str(tmp_path / "a"), "fp", n_bands=4)  # creating
    b = BandedFingerprintIndex(str(tmp_path / "b"), "fp", n_bands=4)
    b.append(pairs)
    b.maintain(spark)  # b is in dirty mode with a seeded byte cache
    assert b._dirty_bands == set() and b._band_bytes is not None

    def boom(*args, **kwargs):
        raise RuntimeError("injected meta-write failure")

    monkeypatch.setattr(a, "_write_meta", boom)
    with pytest.raises(RuntimeError, match="injected meta-write failure"):
        append_many([(a, pairs), (b, pairs)])
    # a's failure fired BEFORE b's dirty update: both must be degraded
    assert a._dirty_bands is None and a._band_bytes is None
    assert b._dirty_bands is None and b._band_bytes is None
    # and the degradation is recoverable: one full walk re-seeds b
    b.maintain(spark, max_files_per_band=99)
    assert b.last_maintain_walk == "full" and b._dirty_bands == set()


def test_stream_factories_plumb_fs_options(monkeypatch):
    """The S3-compatible-endpoint seam must reach the indexes from the
    code that owns them in production: every stream factory forwards
    fs_options to EVERY sidecar it constructs (a seam that only works
    for hand-built indexes in tests is not a deployment seam)."""
    from fest_vibes_ai_etl_spark.streaming import (
        dedup_stream,
        incremental_dedup,
        incremental_near_dedup,
        incremental_span_dedup,
    )

    opts = {"endpoint_override": "http://minio.local:9000"}
    for mod, factory, n_expected in [
        (incremental_dedup, incremental_dedup.make_exact_dedup_processor, 1),
        (incremental_span_dedup, incremental_span_dedup.make_span_dedup_processor, 2),
        (incremental_near_dedup, incremental_near_dedup.make_near_dedup_processor, 2),
    ]:
        captured = []
        real = dedup_stream.BandedFingerprintIndex

        def spy(*args, _real=real, _cap=captured, **kwargs):
            _cap.append(kwargs.get("fs_options"))
            return _real(*args, **kwargs)

        monkeypatch.setattr(dedup_stream, "BandedFingerprintIndex", spy)
        factory("/tmp/fsopts_probe_corpus", fs_options=opts)
        assert captured == [opts] * n_expected, (mod.__name__, captured)


def test_committer_fallback_append_writes_correctly_and_degrades(
    spark, tmp_path, monkeypatch
):
    """The no-trusted-mapping path END TO END (not just its warning): a
    fused append on an untrusted filesystem falls back to one committer
    write per index, lands the same rows and layout as the direct path,
    returns empty band sets (the committer reports nothing), and
    degrades both indexes' dirty tracking to the full-walk state."""
    from fest_vibes_ai_etl_spark.streaming import banded_index as bi

    pairs_a = spark.range(30).select(F.col("id"), F.xxhash64("id").alias("fp"))
    pairs_b = spark.range(30).select(
        F.col("id"), (F.col("id") * 13).alias("fp")
    )
    a = BandedFingerprintIndex(str(tmp_path / "a"), "fp", n_bands=4)
    b = BandedFingerprintIndex(str(tmp_path / "b"), "fp", n_bands=4)
    b.append(pairs_b)
    b.maintain(spark)  # dirty mode with a seeded byte cache
    monkeypatch.setattr(
        bi,
        "_resolve_direct_destination",
        lambda spark_, path: (None, None, "scheme 'gs' untrusted (test)"),
    )
    got = bi.append_many([(a, pairs_a), (b, pairs_b)])
    assert got == [[], []]  # the committer reports no band set
    # degradation: unknown write set forces the next tick's full walk
    assert a._dirty_bands is None and b._dirty_bands is None
    monkeypatch.undo()
    # rows + meta landed exactly as a direct append would persist them
    assert _index_pairs(spark, str(tmp_path / "a")) == {
        (r.id, r.fp) for r in pairs_a.collect()
    }
    assert _index_pairs(spark, str(tmp_path / "b")) == {
        (r.id, r.fp) for r in pairs_b.collect()
    } | {(r.id, r.fp) for r in pairs_b.collect()}
    fresh = BandedFingerprintIndex(str(tmp_path / "a"), "fp")
    assert fresh.exists(spark) and fresh.n_bands == 4  # meta written
    b.maintain(spark, max_files_per_band=99)
    assert b.last_maintain_walk == "full"


def test_existing_final_band_file_is_never_deleted_or_rewritten(spark, tmp_path):
    """Round-11 zombie-window fix: a deterministic final name that already
    exists is SKIPPED outright by the executor writer. The pre-round-11
    delete-then-move meant a speculative/retried attempt killed between
    its delete and its move could erase the winning attempt's
    already-landed (and already-reported) band file AFTER the job
    succeeded — no replay would heal it, since the dirty set claims
    coverage. Pin: the landed file is neither deleted nor rewritten, the
    band is still reported (the content IS this write's output), and
    bands without a pre-existing final land normally."""
    from fest_vibes_ai_etl_spark.streaming import banded_index as bi

    base = str(tmp_path / "idx")
    append_id = "a" * 32
    band_dir = os.path.join(base, "pband=1")
    os.makedirs(band_dir)
    final = os.path.join(band_dir, f"part-{append_id}-b1.parquet")
    with open(final, "wb") as f:
        f.write(b"winning attempt bytes")
    dests = [
        {
            "kind": "local",
            "dest": base,
            "fs_options": None,
            "append_id": append_id,
            "part_prefix": "pband",
            "cols": [("i0_id", "id"), ("i0_fp", "fp")],
        }
    ]
    df = spark.createDataFrame([(7, 1), (8, 2)], "id long, fp long").select(
        F.lit(0).cast("int").alias("idx_pos"),
        F.pmod(F.col("fp"), F.lit(4)).cast("int").alias("pband"),
        F.col("id").alias("i0_id"),
        F.col("fp").alias("i0_fp"),
    )
    written = (
        df.repartition(2, F.col("idx_pos"), F.col("pband"))
        .mapInArrow(
            bi._make_band_writer(dests),
            "idx_pos long, pband long, n long",
        )
        .collect()
    )
    assert sorted({r.pband for r in written}) == [1, 2]
    with open(final, "rb") as f:
        assert f.read() == b"winning attempt bytes"
    assert os.path.exists(
        os.path.join(base, "pband=2", f"part-{append_id}-b2.parquet")
    )
    assert not any(f.startswith("_tmp-") for f in os.listdir(band_dir))


def test_fused_frame_contract_pins_width_and_disjoint_prefixes(spark, tmp_path):
    """append_many's fused union is sliced back per-index BY NAME, so the
    contract — disjoint prefixed names, width exactly 2 + one slot per
    (index, field) — must break loudly, not silently widen rows or
    cross-contaminate sidecars, when a future prefix-scheme edit or a
    third sidecar is wired in wrong."""
    import pytest

    from fest_vibes_ai_etl_spark.streaming import banded_index as bi

    # the real two-sidecar shape (string fp next to long key, a data
    # column literally named 'band'): contract passes, width is exact
    dests = [
        {"cols": [("i0_id", "id"), ("i0_fp", "fp")]},
        {"cols": [("i1_id", "id"), ("i1_band", "band")]},
    ]
    assert bi._fused_frame_contract(dests) == 6

    # a colliding prefix scheme is refused by name
    broken = [
        {"cols": [("ix_id", "id"), ("ix_fp", "fp")]},
        {"cols": [("ix_id", "id"), ("ix_band", "band")]},
    ]
    with pytest.raises(AssertionError, match="ix_id"):
        bi._fused_frame_contract(broken)

    # end-to-end: the invariant holds on a real fused append (and the
    # per-root slices carry ONLY their own original columns)
    a = BandedFingerprintIndex(str(tmp_path / "a"), "fpk", n_bands=4)
    b = BandedFingerprintIndex(str(tmp_path / "b"), "band_hash", n_bands=4)
    pairs_a = spark.range(12).select(
        F.col("id"),
        F.md5(F.col("id").cast("string")).alias("fp"),
        F.xxhash64(F.col("id").cast("string")).alias("fpk"),
    )
    pairs_b = spark.range(12).select(
        F.col("id"),
        (F.col("id") % 8).cast("int").alias("band"),
        (F.col("id") * 13).alias("band_hash"),
    )
    bi.append_many([(a, pairs_a), (b, pairs_b)])
    ta = spark.read.parquet(str(tmp_path / "a"))
    tb = spark.read.parquet(str(tmp_path / "b"))
    assert sorted(ta.columns) == ["fp", "fpk", "id", "pband"]
    assert sorted(tb.columns) == ["band", "band_hash", "id", "pband"]
    assert ta.count() == 12 and tb.count() == 12


def test_meta_writes_are_staged_then_renamed(spark, tmp_path):
    """hadoop_write_json must never leave a TORN meta: a truncated
    _meta.json wedges every restart (json.loads raises on each replay —
    the same replay-wedge class as the empty-cell-dir fix). Staging +
    rename means a crash leaves the old meta, no meta (the loud
    rebuild/adopt paths), or an underscore-invisible temp — never a
    half-written file. Pin: overwrite works, content is the new value,
    and no staging temp survives."""
    import json
    import os

    from fest_vibes_ai_etl_spark.streaming.banded_index import (
        hadoop_read_json,
        hadoop_write_json,
    )

    d = tmp_path / "store"
    d.mkdir()
    meta = str(d / "_meta.json")
    hadoop_write_json(spark, meta, {"v": 1})
    hadoop_write_json(spark, meta, {"v": 2})  # overwrite, not append/fail
    assert hadoop_read_json(spark, meta) == {"v": 2}
    with open(meta) as fh:
        assert json.load(fh) == {"v": 2}
    # no staging temps survive (Hadoop's local ChecksumFileSystem .crc
    # sidecar is expected and harmless — dot-prefixed, reader-invisible)
    assert not [f for f in os.listdir(d) if ".tmp-" in f]
    assert "_meta.json" in os.listdir(d)


def test_read_parquet_dirs_schema_and_listing_strategy(spark, tmp_path):
    """_read_parquet_dirs: an explicit schema skips footer inference; the
    parallelPartitionDiscovery threshold raise is scoped (restored after
    plan creation, even on error) and applies only to file/hdfs schemes
    — object stores keep Spark's distributed listing."""
    import pytest

    from fest_vibes_ai_etl_spark.streaming import banded_index as bi

    base = str(tmp_path / "t")
    df = spark.range(40).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(8)).cast("int").alias("pband")
    )
    df.write.partitionBy("pband").parquet(base)
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(base)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    paths = [f"{base}/pband={b}" for b in range(8)]
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prior = spark.conf.get(key)

    # inferred read (below the default threshold: no conf fiddling)
    got = bi._read_parquet_dirs(spark, fs, base, paths)
    assert got.count() == 40 and spark.conf.get(key) == prior

    # explicit schema read returns the same rows
    got2 = bi._read_parquet_dirs(spark, fs, base, paths, schema=got.schema)
    assert sorted(r.id for r in got2.collect()) == list(range(40))

    # above-threshold file-scheme read: raised during creation, restored
    spark.conf.set(key, "2")
    try:
        got3 = bi._read_parquet_dirs(spark, fs, base, paths, schema=got.schema)
        assert spark.conf.get(key) == "2"  # restored to the (lowered) prior
        assert got3.count() == 40
        # error inside plan creation still restores (finally)
        with pytest.raises(Exception):
            bi._read_parquet_dirs(
                spark, fs, base, [f"{base}/pband=77", f"{base}/pband=78",
                                  f"{base}/pband=79"],
                schema=got.schema,
            ).collect()
        assert spark.conf.get(key) == "2"
    finally:
        spark.conf.set(key, prior)

    # a non-file scheme never touches the conf: a stub fs whose URI says
    # s3 must go straight to the default-listing branch
    class _U:
        def getScheme(self):
            return "s3a"

    class _S3Stub:
        def getUri(self):
            return _U()

    spark.conf.set(key, "2")
    try:
        got4 = bi._read_parquet_dirs(spark, _S3Stub(), base, paths,
                                     schema=got.schema)
        assert spark.conf.get(key) == "2"
        assert got4.count() == 40
    finally:
        spark.conf.set(key, prior)
