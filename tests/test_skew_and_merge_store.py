"""Skew utilities + partitioned-parquet MERGE discipline."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from fest_vibes_ai_etl_spark.operators import skew
from fest_vibes_ai_etl_spark.sources.merge_store import merge_into_partitioned


@pytest.fixture()
def tmproot():
    root = Path(tempfile.mkdtemp(prefix="fest_ms_"))
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(params=["localfs", "mock_s3", "boto_s3"])
def make_vt(request):
    """VersionedParquetTable factory parametrized over commit backends:
    the default link-into-place local-FS CAS, the mock object-store
    conditional PUT, and the boto3-shaped S3 adapter running against the
    stubbed client — the race/rebase/model suites must hold under ALL
    (the S3 conditional-PUT adapter is the 100-TB deployment's
    load-bearing bolt)."""
    from fest_vibes_ai_etl_spark.sources.merge_store import (
        MemoryObjectStoreCommitBackend,
        VersionedParquetTable,
    )

    def _make(path: str, pcol: str):
        if request.param == "localfs":
            backend = None
        elif request.param == "mock_s3":
            backend = MemoryObjectStoreCommitBackend()
        else:
            from fest_vibes_ai_etl_spark.sources.s3_commit import S3CommitBackend
            from tests.test_commit_backends import FakeBotoS3

            backend = S3CommitBackend(bucket="test-bucket", client=FakeBotoS3())
        return VersionedParquetTable(path, pcol, commit_backend=backend)

    return _make


def _skewed_fact(spark, n=20000):
    # 90% of rows hit key 7 (the hot key), rest spread over 100 keys
    return spark.range(n).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(7))
        .otherwise(F.pmod(F.col("id"), F.lit(100)))
        .cast("long")
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def test_salted_sum_matches_plain(spark):
    fact = _skewed_fact(spark)
    plain = {
        (r.k): (r.s, r.n)
        for r in fact.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        (r.k): (r.sum_v, r.n)
        for r in skew.salted_sum_count(fact, ["k"], "v", salt_from="row_id").collect()
    }
    assert salted == plain


def test_replicated_join_matches_plain(spark):
    fact = _skewed_fact(spark)
    dim = spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("name_"), F.col("id")).alias("k_name")
    )
    hot = spark.createDataFrame([(7,)], "k long")
    plain = sorted(
        (r.row_id, r.k_name) for r in fact.join(dim, "k").select("row_id", "k_name").collect()
    )
    salted = sorted(
        (r.row_id, r.k_name)
        for r in skew.replicated_join(fact, dim, "k", hot, fact_salt_from="row_id")
        .select("row_id", "k_name")
        .collect()
    )
    assert salted == plain


def test_merge_into_partitioned(spark, tmproot):
    path = str(tmproot / "t")
    day1 = spark.createDataFrame(
        [("a", "2025-01-01", 1.0, None), ("b", "2025-01-01", 2.0, "x")],
        "k string, d string, v double, note string",
    )
    merge_into_partitioned(spark, path, day1, keys=["k"], partition_col="d")
    assert spark.read.parquet(path).count() == 2

    # second batch: update a (note filled, v kept via coalesce of null), new c, new day
    day2 = spark.createDataFrame(
        [("a", "2025-01-01", None, "filled"), ("c", "2025-01-02", 3.0, None)],
        "k string, d string, v double, note string",
    )
    merge_into_partitioned(spark, path, day2, keys=["k"], partition_col="d")
    rows = {r.k: r for r in spark.read.parquet(path).collect()}
    assert set(rows) == {"a", "b", "c"}
    assert rows["a"].v == 1.0 and rows["a"].note == "filled"  # coalesce semantics
    assert rows["b"].note == "x"  # untouched key in touched partition preserved

    # idempotence: re-running the same batch changes nothing
    merge_into_partitioned(spark, path, day2, keys=["k"], partition_col="d")
    rows2 = {r.k: (r.v, r.note, r.d) for r in spark.read.parquet(path).collect()}
    assert rows2 == {k: (r.v, r.note, r.d) for k, r in rows.items()}


def _vt_source(spark, rows):
    return spark.createDataFrame(rows, "k long, p string, v string")


def test_versioned_table_merge_and_snapshot_read(spark, tmproot):
    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    v1 = t.merge(spark, _vt_source(spark, [(1, "a", "x"), (2, "b", "y")]), keys=["k"])
    assert v1 == 1
    # upsert into partition a only; partition b's directory is untouched
    v2 = t.merge(
        spark, _vt_source(spark, [(1, "a", "x2"), (3, "a", "z")]), keys=["k"],
        overwrite_cols=["v"],
    )
    assert v2 == 2
    got = {(r.k, r.p, r.v) for r in t.read(spark).collect()}
    assert got == {(1, "a", "x2"), (3, "a", "z"), (2, "b", "y")}
    # pruned read touches only the requested partition
    assert {r.p for r in t.read(spark, partition_values=["b"]).collect()} == {"b"}


def test_commit_killed_after_create_leaves_table_committable(
    spark, tmproot, monkeypatch
):
    """A writer killed after creating its commit file but before its
    bytes land must leave no half-written head: ``latest()`` still
    answers the prior version and the next commit lands. A bare
    ``O_CREAT|O_EXCL`` create followed by a write left an empty head
    manifest there, so ``latest()`` raised and every later CAS lost."""
    import builtins
    import os

    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    assert t.merge(spark, _vt_source(spark, [(1, "a", "x")]), keys=["k"]) == 1

    class Killed(BaseException):
        pass

    class DyingFile:
        """A file handle whose writer dies at its first write."""

        def __init__(self, f):
            self._f = f

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._f.close()

        def write(self, data):
            raise Killed()

    real_open, real_fdopen = builtins.open, os.fdopen
    with monkeypatch.context() as m:
        m.setattr(
            builtins, "open",
            lambda f, mode="r", *a, **k: DyingFile(real_open(f, mode, *a, **k))
            if "w" in mode else real_open(f, mode, *a, **k),
        )
        m.setattr(
            os, "fdopen", lambda fd, *a, **k: DyingFile(real_fdopen(fd, *a, **k))
        )
        with pytest.raises(Killed):
            t._commit_cas(2, {"a": {"dir": "data/dead/p=a"}})
    assert t.latest()[0] == 1
    assert t.merge(spark, _vt_source(spark, [(2, "b", "y")]), keys=["k"]) == 2
    assert {(r.k, r.p) for r in t.read(spark).collect()} == {(1, "a"), (2, "b")}


def test_vacuum_sweeps_aged_commit_temps(spark, tmproot):
    """A commit temp left by a writer that died between creating and
    linking it is swept by vacuum once it is older than the staging
    retention; a fresh temp (a writer that may still link it) is kept,
    and every commit still reads."""
    import os
    import uuid

    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    t.merge(spark, _vt_source(spark, [(1, "a", "x")]), keys=["k"])
    t.merge(spark, _vt_source(spark, [(2, "b", "y")]), keys=["k"])
    aged = os.path.join(t._commits, f"v000000000002.json.tmp.{uuid.uuid4().hex}")
    fresh = os.path.join(t._commits, f"v000000000003.json.tmp.{uuid.uuid4().hex}")
    for p in (aged, fresh):
        with open(p, "wb") as f:
            f.write(b'{"a": {"dir": "data/dead/p=a"}}')
    os.utime(aged, (1, 1))  # ancient mtime: well past any retention
    t.vacuum(staging_retention_s=3600)
    assert not os.path.exists(aged)
    assert os.path.exists(fresh)
    assert t.history() == [1, 2]
    rows = [{(r.k, r.p) for r in t.read_version(spark, v).collect()} for v in (1, 2)]
    assert rows == [{(1, "a")}, {(1, "a"), (2, "b")}]


def test_versioned_table_timestamp_partition_column(spark, tmproot, make_vt):
    """TIMESTAMP-typed partition column round-trip on both commit backends:
    manifest keys must match Spark's actual directory names, including the
    case Python's str() gets WRONG — Spark trims trailing zeros from the
    fractional second (.12, not .120000). Exercises merge (touched-partition
    keying), partition_values read, upsert-into-existing-partition (conflict
    detection path), and NULL → __HIVE_DEFAULT_PARTITION__."""
    import datetime as dt
    import os

    whole = dt.datetime(2026, 8, 14, 19, 0, 0)
    trimmed = dt.datetime(2026, 8, 14, 19, 0, 0, 120000)  # dir says .12
    full = dt.datetime(2026, 8, 14, 19, 0, 0, 123456)

    def src(rows):
        return spark.createDataFrame(rows, "k long, p timestamp, v string")

    t = make_vt(str(tmproot / "vt_ts"), "p")
    t.merge(
        spark,
        src([(1, whole, "x"), (2, trimmed, "y"), (3, full, "z"), (4, None, "n")]),
        keys=["k"],
    )
    # manifest keys are exactly the directory names Spark wrote
    _v, manifest = t.latest()
    for key, entry in manifest.items():
        if key.startswith("_"):
            continue
        assert os.path.isdir(os.path.join(t.path, entry["dir"]))
        assert os.path.basename(entry["dir"]) == f"p={key}"
    # partition-pruned reads resolve each raw timestamp (and NULL)
    for val, want_k in [(whole, 1), (trimmed, 2), (full, 3), (None, 4)]:
        got = t.read(spark, partition_values=[val]).collect()
        assert [r.k for r in got] == [want_k], val
    # upsert into the trailing-zero partition: conflict keying must see it
    # (a mismatched key would stage a blind overwrite losing row 2's sibling)
    t.merge(
        spark, src([(5, trimmed, "y2"), (2, trimmed, "y9")]),
        keys=["k"], overwrite_cols=["v"],
    )
    got = {(r.k, r.v) for r in t.read(spark, partition_values=[trimmed]).collect()}
    assert got == {(2, "y9"), (5, "y2")}
    # everything else untouched
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {
        (1, "x"), (2, "y9"), (3, "z"), (4, "n"), (5, "y2")
    }
    # vacuum must treat the NULL partition (__HIVE_DEFAULT_PARTITION__,
    # which starts with '_') as DATA, not as a reserved manifest key —
    # the prefix-test bug would have deleted row 4's bytes here
    t.vacuum()
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {
        (1, "x"), (2, "y9"), (3, "z"), (4, "n"), (5, "y2")
    }
    assert [r.k for r in t.read(spark, partition_values=[None]).collect()] == [4]


def test_versioned_table_two_writer_race_loser_retries(spark, tmproot, make_vt):
    """Deterministic two-writer race on the version CAS: writer A stages,
    then (via the pre-commit seam) writer B commits first; A's put-if-
    absent of v2 fails, A discards its stale merge, recomputes against B's
    committed state, and commits v3. Both writes survive — the reference's
    concurrent-loader guarantee (loader/service.py:862-902) without
    Postgres. Runs on both commit backends (O_EXCL and conditional PUT)."""
    t = make_vt(str(tmproot / "vt"), "p")
    t.merge(spark, _vt_source(spark, [(1, "a", "base")]), keys=["k"])

    attempts = []

    def interloper(attempt):
        attempts.append(attempt)
        if attempt == 0:  # only on A's first try: B sneaks in a commit
            t.merge(spark, _vt_source(spark, [(2, "a", "from_B")]), keys=["k"])

    v = t.merge(
        spark,
        _vt_source(spark, [(3, "a", "from_A")]),
        keys=["k"],
        _pre_commit_hook=interloper,
    )
    assert attempts == [0, 1]  # A lost once, then won
    assert v == 3  # v1 base, v2 B's sneak commit, v3 A's retried commit
    got = {(r.k, r.v) for r in t.read(spark).collect()}
    assert got == {(1, "base"), (2, "from_B"), (3, "from_A")}


def test_versioned_table_vacuum_drops_replaced_partitions(spark, tmproot):
    import os

    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    t.merge(spark, _vt_source(spark, [(1, "a", "x")]), keys=["k"])
    t.merge(spark, _vt_source(spark, [(1, "a", "y")]), keys=["k"], overwrite_cols=["v"])
    assert len(os.listdir(t._data)) == 2
    assert t.vacuum() == 1
    assert len(os.listdir(t._data)) == 1
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {(1, "y")}


def test_vacuum_spares_committed_root_with_stale_marker(spark, tmproot):
    """A writer that crashes between a successful _commit_cas and _unmark
    (or whose _unmark os.remove silently fails) leaves an aging ._STAGING
    marker on a MANIFEST-REFERENCED root. Once the marker passes the
    retention window, vacuum must recognize the root as live — remove only
    the stale marker, never the committed bytes — while still reclaiming
    genuinely abandoned roots (no live partitions) as before."""
    import os

    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    t.merge(spark, _vt_source(spark, [(1, "a", "x")]), keys=["k"])
    t.merge(spark, _vt_source(spark, [(2, "b", "y")]), keys=["k"])
    before = {(r.k, r.p, r.v) for r in t.read(spark).collect()}
    # simulate the crash: stale, retention-expired marker on a live root
    _v, manifest = t.latest()
    roots = {
        e["dir"].split("/")[1]
        for k, e in manifest.items()
        if not k.startswith("_")
    }
    victim = sorted(roots)[-1]
    marker = os.path.join(t._data, victim) + "._STAGING"
    open(marker, "w").close()
    os.utime(marker, (1, 1))  # ancient mtime: well past any retention
    # plus a genuinely abandoned root: marker expired, nothing live in it
    dead = os.path.join(t._data, "deadbeef_abandoned")
    os.makedirs(os.path.join(dead, "p=zzz"))
    open(dead + "._STAGING", "w").close()
    os.utime(dead + "._STAGING", (1, 1))

    t.vacuum(staging_retention_s=0.0)

    assert not os.path.exists(marker)  # stale marker dropped
    assert not os.path.exists(dead)  # abandoned root reclaimed
    assert {(r.k, r.p, r.v) for r in t.read(spark).collect()} == before


def test_versioned_table_time_travel_and_cdc(spark, tmproot):
    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    t.merge(spark, _vt_source(spark, [(1, "a", "x"), (2, "b", "y")]), keys=["k"])
    t.merge(
        spark,
        _vt_source(spark, [(1, "a", "x2"), (3, "a", "z")]),
        keys=["k"], overwrite_cols=["v"],
    )
    assert t.history() == [1, 2]
    # VERSION AS OF 1 is byte-stable after the v2 commit
    v1 = {(r.k, r.v) for r in t.read_version(spark, 1).collect()}
    assert v1 == {(1, "x"), (2, "y")}
    # CDC v1 -> v2: partition b unchanged (same manifest entry, never read)
    diff = {r.k: r.status for r in t.diff_versions(spark, 1, 2, keys=["k"]).collect()}
    assert diff == {1: "changed", 3: "added"}


def test_versioned_table_compact_preserves_and_consolidates(spark, tmproot):
    import os

    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    for i in range(3):  # 3 merges -> 3 staging roots referenced
        t.merge(spark, _vt_source(spark, [(i, "a", f"v{i}"), (i + 10, "b", "w")]),
                keys=["k"], overwrite_cols=["v"])
    before = {(r.k, r.p, r.v) for r in t.read(spark).collect()}
    v = t.compact(spark)
    assert v == 4
    assert {(r.k, r.p, r.v) for r in t.read(spark).collect()} == before
    # latest manifest references exactly ONE staging root now
    _v, manifest = t.latest()
    roots = {e["dir"].split("/")[1] for e in manifest.values()}
    assert len(roots) == 1
    assert t.vacuum() == 6  # 2 partition dirs in each of 3 pre-compaction roots
    assert {(r.k, r.p, r.v) for r in t.read(spark).collect()} == before


def test_versioned_table_txn_idempotent_replay(spark, tmproot):
    """Delta txnAppId/txnVersion contract: a replayed (app, batch) merge
    returns the current version without committing; a newer batch commits;
    compaction preserves the txn watermark."""
    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    v1 = t.merge(spark, _vt_source(spark, [(1, "a", "x")]), keys=["k"], txn=("q", 0))
    replay = t.merge(
        spark, _vt_source(spark, [(1, "a", "DIFFERENT")]), keys=["k"],
        overwrite_cols=["v"], txn=("q", 0),
    )
    assert (v1, replay) == (1, 1)  # replay: no new version
    assert {r.v for r in t.read(spark).collect()} == {"x"}  # replay wrote nothing
    v2 = t.merge(spark, _vt_source(spark, [(2, "a", "y")]), keys=["k"], txn=("q", 1))
    assert v2 == 2
    t.compact(spark)
    assert t.merge(
        spark, _vt_source(spark, [(9, "a", "no")]), keys=["k"], txn=("q", 1)
    ) == 3  # still replay-guarded after compaction
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {(1, "x"), (2, "y")}


def test_streaming_versioned_upsert_exactly_once(spark, tmproot, tmp_path):
    """File stream -> foreachBatch -> versioned merge with txn: restarting
    the query from the same checkpoint re-delivers nothing new and commits
    no extra version."""
    import json

    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable
    from fest_vibes_ai_etl_spark.streaming.ingest import start_versioned_upsert

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.json").write_text(
        json.dumps({"k": 1, "p": "a", "v": "x"}) + "\n"
        + json.dumps({"k": 2, "p": "b", "v": "y"}) + "\n"
    )
    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    stream = spark.readStream.schema("k long, p string, v string").json(str(src))
    q = start_versioned_upsert(
        stream, t, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"), app_id="s1"
    )
    assert q.awaitTermination(60), "stream did not finish in 60s"
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {(1, "x"), (2, "y")}
    v_after = t.latest()[0]
    # restart from the same checkpoint: no new input -> no new version
    stream2 = spark.readStream.schema("k long, p string, v string").json(str(src))
    q2 = start_versioned_upsert(
        stream2, t, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"), app_id="s1"
    )
    assert q2.awaitTermination(60), "stream did not finish in 60s"
    assert t.latest()[0] == v_after
    # new file arrives -> one more version
    (src / "b2.json").write_text(json.dumps({"k": 3, "p": "a", "v": "z"}) + "\n")
    stream3 = spark.readStream.schema("k long, p string, v string").json(str(src))
    q3 = start_versioned_upsert(
        stream3, t, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"), app_id="s1"
    )
    assert q3.awaitTermination(60), "stream did not finish in 60s"
    assert t.latest()[0] == v_after + 1
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {(1, "x"), (2, "y"), (3, "z")}


def test_versioned_table_disjoint_race_rebases_without_recompute(
    spark, tmproot, make_vt
):
    """Two writers on DIFFERENT partitions: the CAS loser detects the
    winner didn't touch its partitions and REBASES (re-CAS with the new
    manifest base) instead of recomputing — the merge body runs once
    (attempts == [0]) and both writes land."""
    t = make_vt(str(tmproot / "vt"), "p")
    t.merge(spark, _vt_source(spark, [(1, "a", "base")]), keys=["k"])

    attempts = []

    def interloper(attempt):
        attempts.append(attempt)
        if attempt == 0:  # B commits to partition b while A targets a
            t.merge(spark, _vt_source(spark, [(2, "b", "from_B")]), keys=["k"])

    v = t.merge(
        spark,
        _vt_source(spark, [(3, "a", "from_A")]),
        keys=["k"],
        _pre_commit_hook=interloper,
    )
    assert attempts == [0]  # no recompute: rebase handled the lost CAS
    assert v == 3
    got = {(r.k, r.p, r.v) for r in t.read(spark).collect()}
    assert got == {(1, "a", "base"), (3, "a", "from_A"), (2, "b", "from_B")}


def test_versioned_table_delete_copy_on_write(spark, tmproot):
    """Row-level DELETE: only matching partitions rewritten; an emptied
    partition leaves the manifest; NULL-predicate rows are kept; pre-delete
    rows stay time-travelable until vacuum (the GDPR delete+vacuum shape)."""
    from pyspark.sql import functions as F

    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    t.merge(
        spark,
        _vt_source(spark, [(1, "a", "x"), (2, "a", None), (3, "b", "drop"),
                           (4, "c", "keep")]),
        keys=["k"],
    )
    v, n = t.delete(spark, F.col("v") == "drop")
    assert (v, n) == (2, 1)
    # partition b emptied -> gone from the manifest entirely
    _v, manifest = t.latest()
    assert set(k for k in manifest if not k.startswith("_")) == {"a", "c"}
    got = {(r.k, r.v) for r in t.read(spark).collect()}
    assert got == {(1, "x"), (2, None), (4, "keep")}  # NULL-pred row kept
    # no-match delete is a no-op version-wise
    assert t.delete(spark, F.col("v") == "absent") == (2, 0)
    # GDPR: old version still readable, then vacuum forgets it
    assert {(r.k,) for r in t.read_version(spark, 1).select("k").collect()} == {
        (1,), (2,), (3,), (4,)
    }
    t.vacuum()
    import pytest as _pytest

    with _pytest.raises(Exception):
        t.read_version(spark, 1).select("k").collect()


def test_versioned_table_merge_schema_evolution(spark, tmproot):
    """A source with a NEW column merges cleanly: old rows carry null for
    it (merge_coalesce carries source-only/target-only columns through)."""
    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    t.merge(spark, _vt_source(spark, [(1, "a", "x"), (9, "c", "old")]), keys=["k"])
    widened = spark.createDataFrame(
        [(2, "a", "y", 0.9)], "k long, p string, v string, score double"
    )
    t.merge(spark, widened, keys=["k"])
    # partition c still lives in the pre-evolution root: the snapshot read
    # unions different per-root schemas (allowMissingColumns)
    rows = {r.k: (r.v, r.score) for r in t.read(spark).collect()}
    assert rows == {1: ("x", None), 2: ("y", 0.9), 9: ("old", None)}


def test_versioned_table_model_based_random_ops(spark, tmproot, make_vt):
    """Model-based check: a seeded random sequence of merge / overwrite-
    merge / delete / compact / vacuum ops applied to both the table and an
    in-memory model; after every op the snapshot read must equal the
    model, and version history must replay via time travel (until vacuum
    truncates retention). Catches cross-feature interactions no single-
    feature test sees (e.g. delete-after-compact, evolution mid-history)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    t = make_vt(str(tmproot / "vt"), "p")
    model: dict[int, tuple[str, str]] = {}  # k -> (p, v)
    snapshots: dict[int, dict] = {}  # committed version -> model copy

    def read_table():
        df = t.read(spark)
        if df is None:
            return {}
        return {r.k: (r.p, r.v) for r in df.collect()}

    parts = ["a", "b", "c"]
    version = 0
    vacuumed = False
    for step in range(14):
        op = rng.choice(["merge", "merge", "overwrite", "delete", "compact", "vacuum"])
        if op in ("merge", "overwrite"):
            rows = [
                (rng.randrange(8), rng.choice(parts), f"s{step}r{i}")
                for i in range(rng.randrange(1, 4))
            ]
            # one row per key (merge_coalesce requires unique source keys)
            rows = list({k: (k, p, v) for k, p, v in rows}.values())
            # invariant: a key keeps its first-seen partition (documented
            # merge-store contract - partition value is part of identity)
            rows = [
                (k, model[k][0] if k in model else p, v) for k, p, v in rows
            ]
            src = spark.createDataFrame(rows, "k long, p string, v string")
            new_v = t.merge(
                spark, src, keys=["k"],
                overwrite_cols=["v"] if op == "overwrite" else (),
            )
            # coalesce semantics: v = COALESCE(source.v, target.v) — a
            # NON-NULL source value wins on both paths; overwrite differs
            # only for null source values (none generated here)
            for k, p, v in rows:
                model[k] = (p, v)
            assert new_v == version + 1
            version = new_v
        elif op == "delete":
            victim = rng.choice(parts)
            new_v, n = t.delete(spark, F.col("p") == victim)
            expect = {k for k, (p, _v) in model.items() if p == victim}
            assert n == len(expect), (step, n, expect)
            if expect:
                assert new_v == version + 1
                version = new_v
                for k in expect:
                    del model[k]
            else:
                assert new_v == version
        elif op == "compact":
            new_v = t.compact(spark)
            if model:
                assert new_v == version + 1
                version = new_v
            else:
                assert new_v == version
        else:  # vacuum
            t.vacuum()
            vacuumed = True
        snapshots[version] = dict(model)
        assert read_table() == model, (step, op)
    # time travel replays committed history (when retention intact)
    if not vacuumed:
        for v, snap in snapshots.items():
            if v == 0:
                continue
            df = t.read_version(spark, v)
            got = {} if df is None else {r.k: (r.p, r.v) for r in df.collect()}
            assert got == snap, v


def test_versioned_table_restore_is_metadata_only_undo(spark, tmproot):
    """RESTORE re-commits an old manifest as a new version: data rolls
    back, history (including the mistake) stays time-travelable, and txn
    watermarks survive so a replayed stream batch cannot double-apply
    after the rollback."""
    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    t.merge(spark, _vt_source(spark, [(1, "a", "good")]), keys=["k"], txn=("q", 0))
    t.merge(
        spark, _vt_source(spark, [(1, "a", "BAD"), (2, "a", "oops")]),
        keys=["k"], overwrite_cols=["v"], txn=("q", 1),
    )
    v = t.restore(1)
    assert v == 3 and t.history() == [1, 2, 3]
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {(1, "good")}
    # the mistake remains auditable
    assert {(r.k, r.v) for r in t.read_version(spark, 2).collect()} == {
        (1, "BAD"), (2, "oops")
    }
    # txn watermark survived the rollback: replaying batch 1 is a no-op
    assert t.merge(
        spark, _vt_source(spark, [(9, "a", "replay")]), keys=["k"], txn=("q", 1)
    ) == 3
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {(1, "good")}
    # restoring the current version is a no-op
    assert t.restore(3) == 3


def test_compact_with_sort_clusters_rows(spark, tmproot):
    """compact(sort_cols=...) rewrites each partition clustered by the sort
    key (the OPTIMIZE ZORDER seam): content identical, and the staged files
    carry rows in key order so row-group stats prune range reads."""
    import pyarrow.parquet as pq

    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    rows = [(k, "a", f"v{k}") for k in (5, 1, 9, 3, 7, 2, 8, 0, 6, 4)]
    t.merge(spark, _vt_source(spark, rows), keys=["k"])
    before = {(r.k, r.v) for r in t.read(spark).collect()}
    t.compact(spark, sort_cols=["k"])
    assert {(r.k, r.v) for r in t.read(spark).collect()} == before
    # every data file in the latest manifest is internally sorted by k
    import os

    _v, manifest = t.latest()
    for key, entry in manifest.items():
        if key.startswith("_"):
            continue
        d = os.path.join(t.path, entry["dir"])
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            ks = pq.read_table(os.path.join(d, f), columns=["k"])["k"].to_pylist()
            assert ks == sorted(ks), f


def test_describe_history(spark, tmproot):
    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(str(tmproot / "vt"), "p")
    t.merge(spark, _vt_source(spark, [(1, "a", "x"), (2, "b", "y")]), keys=["k"])
    t.merge(spark, _vt_source(spark, [(3, "a", "z")]), keys=["k"], txn=("q", 0))
    h = {r.version: r for r in t.describe_history(spark).collect()}
    assert h[1].n_partitions == 2 and sorted(h[1].partitions_changed) == ["a", "b"]
    assert h[2].n_partitions == 2 and h[2].partitions_changed == ["a"]
    assert (h[1].n_txn_apps, h[2].n_txn_apps) == (0, 1)
