"""Single-writer enforcement (STATE.md §5, round 14): the manifest-CAS
writer lease. Previously the contract lived in documentation — a cron
maintenance tick racing an operator-run purge would corrupt silently;
now every owner op (maintain/purge/revise/delete across the index
families) takes a fenced epoch via put-if-absent, a second writer gets a
typed WriterLeaseError with no directory contact, and compaction
journals carry the winning epoch as a fencing stamp."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from fest_vibes_ai_etl_spark.streaming.writer_lease import (
    _HELD,
    LEASE_DIRNAME,
    WriterLease,
    WriterLeaseError,
    current_epoch_for,
    writer_lease,
)


def test_acquire_release_cycle(spark, tmp_path):
    store = str(tmp_path / "s")
    a = WriterLease(spark, store, op="maintain")
    assert a.acquire() == 1
    # held: a second writer is refused with the typed error
    b = WriterLease(spark, store, op="purge")
    with pytest.raises(WriterLeaseError, match="still active"):
        b.acquire()
    a.release()
    assert b.acquire() == 2  # released head: next epoch claims cleanly
    b.release()


def test_cas_race_exactly_one_winner(spark, tmp_path):
    """N simultaneous acquirers, all released through a barrier at once:
    the put-if-absent create arbitrates — exactly one epoch-claim wins,
    every loser raises the typed error."""
    store = str(tmp_path / "s")
    n = 8
    barrier = threading.Barrier(n)
    outcomes: list[str] = []
    lock = threading.Lock()

    def contender():
        lease = WriterLease(spark, store, op="maintain")
        barrier.wait()
        try:
            lease.acquire()
            with lock:
                outcomes.append("won")
        except WriterLeaseError:
            with lock:
                outcomes.append("lost")

    threads = [threading.Thread(target=contender) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert outcomes.count("won") == 1
    assert outcomes.count("lost") == n - 1


def test_ttl_expiry_allows_takeover(spark, tmp_path):
    store = str(tmp_path / "s")
    a = WriterLease(spark, store, op="maintain", ttl_s=0.05)
    a.acquire()  # crashed writer: never releases
    b = WriterLease(spark, store, op="maintain")
    with pytest.raises(WriterLeaseError):
        b.acquire()  # still inside the TTL
    time.sleep(0.06)
    assert b.acquire() == 2  # expired holder presumed dead; claim over it
    b.release()


def test_reentrant_nesting_same_thread(spark, tmp_path):
    """delete -> maintain_tombstones nesting: the inner writer_lease on a
    store this thread already holds is a pass-through; only the
    outermost exit releases. The fencing stamp resolves while held —
    for the store root, subpaths, and sibling sidecars."""
    store = str(tmp_path / "s")
    with writer_lease(spark, store, "delete") as outer:
        assert current_epoch_for(store) == outer.epoch
        assert current_epoch_for(store + "/postings/tb=3") == outer.epoch
        assert current_epoch_for(store + "_tombstones") == outer.epoch
        with writer_lease(spark, store, "maintain-tombstones") as inner:
            assert inner is outer  # same lease object, no second claim
        # inner exit must NOT have released
        other = WriterLease(spark, store, op="maintain")
        with pytest.raises(WriterLeaseError):
            other.acquire()
    assert current_epoch_for(store) is None
    assert not _HELD  # registry drained
    # outer exit released: a fresh writer claims
    w = WriterLease(spark, store, op="maintain")
    assert w.acquire() == 2
    w.release()


def test_lease_released_on_op_exception(spark, tmp_path):
    store = str(tmp_path / "s")
    with pytest.raises(RuntimeError, match="boom"):
        with writer_lease(spark, store, "maintain"):
            raise RuntimeError("boom")
    w = WriterLease(spark, store, op="maintain")
    assert w.acquire() == 2  # the failed op's exit released the lease
    w.release()


def test_lease_dir_census_bounded(spark, tmp_path):
    store = str(tmp_path / "s")
    for _ in range(30):
        with writer_lease(spark, store, "maintain"):
            pass
    names = sorted((tmp_path / "s" / LEASE_DIRNAME).iterdir())
    # 8 retired pairs + the newest pair, not 30 pairs
    assert len(names) <= 2 * (8 + 2)


def test_two_writer_race_on_real_maintenance(spark, tmp_path):
    """The verdict's 'Done' criterion: two writers race a REAL owner op
    on a REAL store — exactly one maintenance wins, the loser raises the
    typed error having touched nothing, and the store serves identical
    results afterwards."""
    from fest_vibes_ai_etl_spark.operators.search import (
        load_or_build_postings_store,
    )
    from fest_vibes_ai_etl_spark.streaming.incremental_search import (
        bm25_over_index,
        maintain_search_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha merge hash token{i} content") for i in range(30)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    load_or_build_postings_store(spark, docs, str(tmp_path), store_path=store)
    before = bm25_over_index(spark, store, ["merge"], topn=5).collect()

    # writer A holds the lease mid-maintenance (simulated by holding the
    # fence directly — same lease the op takes); writer B's real
    # maintenance call must refuse without touching the store
    with writer_lease(spark, store, "maintain"):
        errs: list[Exception] = []

        def second_writer():
            try:
                maintain_search_index(spark, store)
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        t = threading.Thread(target=second_writer)
        t.start()
        t.join()
        assert len(errs) == 1
        assert isinstance(errs[0], WriterLeaseError)

    # the fence is released: the same call now wins and the store is sound
    maintain_search_index(spark, store)
    after = bm25_over_index(spark, store, ["merge"], topn=5).collect()
    assert after == before


def test_store_gen_reads_and_bumps(spark, tmp_path):
    from fest_vibes_ai_etl_spark.streaming.writer_lease import (
        bump_store_gen,
        read_store_gen,
    )

    store = str(tmp_path / "s")
    assert read_store_gen(spark, store) == 0
    assert bump_store_gen(spark, store) == 1
    assert bump_store_gen(spark, store) == 2
    assert read_store_gen(spark, store) == 2
    # every fenced owner-op entry bumps (outermost only)
    with writer_lease(spark, store, "maintain"):
        assert read_store_gen(spark, store) == 3
        with writer_lease(spark, store, "delete"):
            assert read_store_gen(spark, store) == 3  # nested: no re-bump
    # exactly one marker file survives retirement
    gdir = tmp_path / "s" / "_gen"
    assert len(list(gdir.iterdir())) == 1


def test_gen_stamp_closes_cross_session_memo_staleness(
    spark, tmp_path, monkeypatch
):
    """The round-13 verdict's missing #5: session A memoizes a 'healed'
    claim; a SEPARATE writer session crashes mid-compaction leaving a
    fresh journal; A's memo would mask it. The gen stamp (bumped at every
    fenced entry) makes A's next probe drop the stale memo and re-heal.
    Simulated in one process by snapshotting A's memo, running a
    crashing maintenance (the 'foreign' writer — its same-session
    invalidation is undone by restoring the snapshot), then probing."""
    import copy

    from fest_vibes_ai_etl_spark.streaming import (
        incremental_search as inc,
        state_store,
    )

    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(
        idx, n_term_buckets=4, maintain_every=None
    )
    docs = spark.createDataFrame(
        [(i, f"alpha merge hash token{i} content") for i in range(40)],
        "doc_id long, text string",
    )
    proc(docs, 0)
    proc(
        spark.createDataFrame(
            [(100 + i, f"beta merge window token{i}") for i in range(40)],
            "doc_id long, text string",
        ),
        1,
    )
    before = inc.bm25_over_index(spark, idx, ["merge"], topn=10).collect()
    key = (spark.sparkContext.applicationId, idx.rstrip("/"))
    session_a_memo = copy.deepcopy(state_store._PROBE_MEMO[key])
    assert session_a_memo["healed"], "probe must have memoized healed dirs"

    # foreign writer: dies in the roll-forward window (merged segment
    # visible AND inputs still present — the double-count state)
    def dying(spark_, d, names):
        raise RuntimeError("injected crash before input deletes")

    monkeypatch.setattr(state_store, "_delete_inputs", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.maintain_search_index(spark, idx, max_files_per_bucket=1)
    monkeypatch.undo()

    # session A still holds its pre-crash memo (restore the snapshot the
    # foreign writer's own-process invalidation wiped)
    state_store._PROBE_MEMO[key] = session_a_memo
    fresh = state_store._memo_for(spark, idx)
    assert fresh is not session_a_memo, "gen mismatch must drop the memo"
    assert fresh["healed"] == set()
    # and the probe therefore re-heals and ranks EXACTLY as before the
    # crash — with the stale memo trusted, the journaled bucket would
    # have double-served its merged segment plus inputs
    assert inc.bm25_over_index(spark, idx, ["merge"], topn=10).collect() == before

    # control: with a matching gen the memo IS trusted (the fast path
    # the stamp must not break)
    state_store._PROBE_MEMO[key]["probe_marker"] = True
    assert state_store._memo_for(spark, idx).get("probe_marker") is True


def test_compaction_journal_carries_lease_epoch(spark, tmp_path, monkeypatch):
    """Every journal written under a held lease is stamped with the
    fencing epoch (audit: which writer epoch performed which rewrite)."""
    from fest_vibes_ai_etl_spark import fsio
    from fest_vibes_ai_etl_spark.streaming import state_store

    captured = {}
    real_write = fsio.write_json

    def spy(s, path, obj):
        if path.endswith(state_store._MANIFEST):
            captured[path] = dict(obj)
        return real_write(s, path, obj)

    monkeypatch.setattr(fsio, "write_json", spy)

    d = str(tmp_path / "s" / "postings" / "tb=0")
    for i in range(4):
        spark.range(i * 5, i * 5 + 5).write.mode("append").parquet(d)
    with writer_lease(spark, str(tmp_path / "s"), "maintain") as lease:
        state_store.compact_small_files(spark, d, max_files=2, erase=True)
        assert captured, "compaction should have journaled"
        (payload,) = captured.values()
        assert payload["lease_epoch"] == lease.epoch


def test_unreadable_head_claim_is_active_not_expired(spark, tmp_path):
    """Round 15 (multi-winner hole, seen as 3/8 CAS winners under heavy
    load): claims are now created content-atomically, so an unreadable or
    empty head-claim payload must read as an ACTIVE holder — presuming it
    dead (the old `payload = {}` → age-since-epoch-0 → 'expired' path)
    let every concurrent acquirer claim the NEXT epoch over a claim whose
    bytes simply hadn't landed yet."""
    store = str(tmp_path / "s")
    a = WriterLease(spark, store, op="maintain")
    a.acquire()
    # simulate the torn/corrupt read: truncate the head claim in place
    lease_dir = os.path.join(store, "_writer_lease")
    head = sorted(n for n in os.listdir(lease_dir) if n.startswith("e"))[-1]
    with open(os.path.join(lease_dir, head), "wb"):
        pass  # 0 bytes
    b = WriterLease(spark, store, op="maintain")
    with pytest.raises(WriterLeaseError, match="unreadable"):
        b.acquire()


def test_unreadable_head_claim_expires_by_mtime_after_ttl(spark, tmp_path):
    """An unreadable head claim must not wedge the store for good: once
    the claim FILE is older than the TTL by the backend's mtime, it
    expires like any claim and the next epoch can be taken."""
    store = str(tmp_path / "s")
    a = WriterLease(spark, store, op="maintain", ttl_s=60)
    a.acquire()
    lease_dir = os.path.join(store, "_writer_lease")
    head = sorted(n for n in os.listdir(lease_dir) if n.startswith("e"))[-1]
    claim = os.path.join(lease_dir, head)
    with open(claim, "wb"):
        pass  # 0 bytes: unreadable payload
    old = time.time() - 120
    os.utime(claim, (old, old))
    b = WriterLease(spark, store, op="maintain", ttl_s=60)
    assert b.acquire() == a.epoch + 1
    b.release()


def test_hadoop_put_if_absent_maps_py4j_errors_to_typed_error(spark, monkeypatch):
    """A JVM filesystem failure inside the Hadoop backend's put-if-absent
    surfaces as WriterLeaseError (never a raw Py4J trace escaping into
    bump_store_gen's retry loop); a plain False from rename stays a lost
    claim."""
    from py4j.protocol import Py4JJavaError

    from fest_vibes_ai_etl_spark import fsio
    from fest_vibes_ai_etl_spark.streaming.writer_lease import (
        _HadoopLeaseBackend,
    )

    class _Out:
        def write(self, data):
            pass

        def close(self):
            pass

    class StubFs:
        fail = True

        def create(self, path, overwrite):
            if self.fail:
                raise Py4JJavaError(
                    "create failed", spark._jvm.java.io.IOException("disk gone")
                )
            return _Out()

        def rename(self, src, dst):
            return False

        def exists(self, path):
            return False

        def delete(self, path, recursive):
            return False

    fs = StubFs()
    backend = _HadoopLeaseBackend(spark)
    monkeypatch.setattr(fsio, "_resolve", lambda s, path: (fs, path))
    claim = "hdfs://nn/store/_writer_lease/e000000000001.json"
    with pytest.raises(WriterLeaseError, match="put-if-absent"):
        backend.put_if_absent(claim, b"{}")
    fs.fail = False
    assert backend.put_if_absent(claim, b"{}") is False


def test_claim_file_never_visible_partially_written(tmp_path):
    """The local backend's put-if-absent must expose the name only with
    its full payload (link-into-place), and the loser's temp must not
    leak."""
    from fest_vibes_ai_etl_spark.streaming.writer_lease import (
        _LocalLeaseBackend,
    )

    be = _LocalLeaseBackend()
    path = str(tmp_path / "lease" / "e000000000001.json")
    assert be.put_if_absent(path, b'{"owner": "x"}')
    assert not be.put_if_absent(path, b'{"owner": "y"}')
    with open(path, "rb") as f:
        assert f.read() == b'{"owner": "x"}'
    leftovers = [n for n in os.listdir(tmp_path / "lease") if ".tmp." in n]
    assert leftovers == []
