"""Fenced single-writer lease over a store directory — STATE.md §5,
ENFORCED (round 14; previously the contract lived in documentation only,
and a cron maintenance tick racing an operator-run purge would corrupt
silently). The reference outsources this serialization to Postgres row
locks (/root/reference/src/loader/service.py's session-per-request
transactions); here the same guarantee comes from the repo's own CAS
primitive — put-if-absent commit objects, the
``sources/merge_store.py`` manifest-CAS discipline applied to mutual
exclusion instead of versioning.

Protocol (``<store>/_writer_lease/``):

- ``e{N:012d}.json`` — epoch CLAIM: ``{owner, op, acquired_unix, ttl_s}``,
  created with put-if-absent (atomic create-no-overwrite).
- ``r{N:012d}.json`` — RELEASE marker for epoch N (also put-if-absent;
  idempotent).

``acquire()`` reads the head (max N): a head claim with no release
marker and age < ttl is an ACTIVE writer → typed
:class:`WriterLeaseError`, no directory contact. Otherwise the caller
CAS-claims ``e{N+1}``; losing that create to a concurrent claimant is
the same typed error. Exactly one of any number of simultaneous
acquirers wins — the create, never a listing, arbitrates (the
merge_store rule). ``release()`` writes ``r{N}``.

Crash semantics: a writer that dies holding the lease leaves an
unreleased head; successors refuse until its TTL (default 15 min)
expires, then claim over it — the standard lease assumption that an
expired holder is dead. The claim's epoch N is a FENCING TOKEN: it is
stamped into every compaction journal written while held
(``state_store.compact_small_files`` → ``lease_epoch``), so an audit can
attribute every rewrite to the writer epoch that performed it.

Reentrancy: owner ops nest (``delete_from_search_index`` calls
``maintain_tombstones`` on the same store), so the process keeps a
registry of held leases keyed by (thread id, store root); a nested
``writer_lease`` on a store this THREAD holds is a no-op pass-through
and only the outermost exit releases. Two threads of one process are two
writers and race the CAS exactly like two processes.

Backends: plain/``file:`` paths use ``O_CREAT|O_EXCL``
(``sources.merge_store.LocalFSCommitBackend`` semantics); other schemes
go through the JVM Hadoop filesystem's atomic create-no-overwrite
(HDFS-atomic; for real S3 pass an
``sources.s3_commit.S3CommitBackend``-shaped object whose conditional
PUT is the arbiter, the moto-validated path)."""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

LEASE_DIRNAME = "_writer_lease"
DEFAULT_TTL_S = 900.0
_KEEP_EPOCHS = 8  # retired claim/release pairs kept for audit

# held leases by (thread id, normalized store root) — the reentrancy
# registry. Keyed by THREAD, not just store: nesting is a same-call-stack
# phenomenon (delete -> maintain_tombstones), while two threads of one
# process are two WRITERS and must race the CAS like two processes would
_HELD: dict[tuple[int, str], "WriterLease"] = {}


class WriterLeaseError(RuntimeError):
    """A second writer is active on the store (or won the claim race).

    The single-writer contract (STATE.md §5) makes maintenance, purge,
    revise, and delete ops mutually exclusive per store; the loser must
    back off and retry after the holder finishes — it must NOT touch the
    directories."""


def _norm(store_dir: str) -> str:
    return store_dir.rstrip("/")


class _LocalLeaseBackend:
    """put-if-absent via O_CREAT|O_EXCL — atomic on POSIX."""

    def list(self, d: str) -> list[str]:
        try:
            return os.listdir(d)
        except OSError:
            return []

    def get(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def mtime(self, path: str) -> float:
        return os.stat(path).st_mtime

    def put_if_absent(self, path: str, data: bytes) -> bool:
        # CONTENT-atomic, not just name-atomic: a bare O_CREAT|O_EXCL
        # followed by write() exposes an empty claim file between the two
        # syscalls, and a concurrent acquirer reading it parses {} → age
        # from epoch 0 → "TTL expired" → claims the NEXT epoch: multiple
        # winners (seen as 3/8 winners in the round-15 full-suite run
        # under heavy load). Write the payload to a private temp file and
        # LINK it into place — link(2) fails with EEXIST atomically and
        # the name only ever appears fully written.
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except OSError:
            pass


class _HadoopLeaseBackend:
    """Atomic create-no-overwrite through the JVM filesystem (HDFS-
    semantics). NOT safe on S3A (its create is not atomic) — real S3
    stores should pass an s3_commit-backed adapter instead."""

    def __init__(self, spark):
        self._spark = spark

    def _fs(self, path: str):
        jvm = self._spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        return jvm, p, p.getFileSystem(self._spark._jsc.hadoopConfiguration())

    def list(self, d: str) -> list[str]:
        jvm, p, fs = self._fs(d)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    def get(self, path: str) -> bytes:
        jvm, p, fs = self._fs(path)
        stream = fs.open(p)
        try:
            return bytes(
                self._spark._jvm.org.apache.commons.io.IOUtils.toByteArray(
                    stream
                )
            )
        finally:
            stream.close()

    def mtime(self, path: str) -> float:
        jvm, p, fs = self._fs(path)
        return fs.getFileStatus(p).getModificationTime() / 1000.0

    def put_if_absent(self, path: str, data: bytes) -> bool:
        # content-atomic (see the local backend): write a private temp
        # file, then rename WITHOUT overwrite — atomic on HDFS, so the
        # target name never exists with a partial payload. A filesystem
        # failure is a typed error, never a raw Py4J trace; only a plain
        # False from rename means the claim was lost.
        from py4j.protocol import Py4JError

        try:
            jvm, p, fs = self._fs(path)
            tmp_path = f"{path}.tmp.{uuid.uuid4().hex}"
            _, tp, _ = self._fs(tmp_path)
            out = fs.create(tp, True)
            out.write(bytearray(data))
            out.close()
            try:
                return bool(fs.rename(tp, p))
            finally:
                if fs.exists(tp):
                    fs.delete(tp, False)
        except Py4JError as exc:
            raise WriterLeaseError(
                f"put-if-absent of {path} failed in the filesystem "
                f"({type(exc).__name__}); back off and retry"
            ) from exc

    def delete(self, path: str) -> None:
        jvm, p, fs = self._fs(path)
        if fs.exists(p):
            fs.delete(p, False)


def _backend_for(spark, store_dir: str):
    if "://" not in store_dir or store_dir.startswith("file:"):
        return _LocalLeaseBackend()
    return _HadoopLeaseBackend(spark)


def _epoch_of(name: str) -> int | None:
    for prefix in ("e", "r"):
        if name.startswith(prefix) and name.endswith(".json"):
            body = name[len(prefix) : -len(".json")]
            if body.isdigit():
                return int(body)
    return None


class WriterLease:
    def __init__(
        self,
        spark,
        store_dir: str,
        op: str = "maintenance",
        ttl_s: float = DEFAULT_TTL_S,
        backend=None,
    ):
        self.store_dir = _norm(store_dir)
        self.op = op
        self.ttl_s = float(ttl_s)
        self.owner = uuid.uuid4().hex
        self.backend = backend or _backend_for(spark, self.store_dir)
        self.epoch: int | None = None
        self._lease_dir = (
            self.store_dir[len("file:") :]
            if self.store_dir.startswith("file:")
            and isinstance(self.backend, _LocalLeaseBackend)
            else self.store_dir
        ) + "/" + LEASE_DIRNAME

    # -- protocol ----------------------------------------------------------

    def _scan(self) -> tuple[int, set[int], set[int]]:
        claims, releases = set(), set()
        for name in self.backend.list(self._lease_dir):
            n = _epoch_of(name)
            if n is None:
                continue
            (claims if name.startswith("e") else releases).add(n)
        head = max(claims) if claims else 0
        return head, claims, releases

    def acquire(self) -> int:
        head, claims, releases = self._scan()
        if head and head not in releases:
            # unreleased head: an active writer unless its TTL expired
            claim_path = f"{self._lease_dir}/e{head:012d}.json"
            try:
                payload = json.loads(self.backend.get(claim_path).decode("utf-8"))
            except Exception:
                # Unreadable claim payload = ACTIVE while the claim file
                # is younger than the TTL: claims are created
                # content-atomically, so this is a transient read glitch
                # (or real corruption), and presuming the holder dead on
                # it re-opens the multi-winner hole the atomic create
                # closed. Past the TTL by the backend's own mtime it
                # expires like any claim — corruption must not wedge the
                # store for good.
                if not self._older_than_ttl(claim_path):
                    raise WriterLeaseError(
                        f"store {self.store_dir}: writer epoch {head} claim "
                        f"exists but its payload is unreadable — treating "
                        f"the holder as active (single-writer contract, "
                        f"STATE.md §5); back off and retry"
                    )
                payload = None
            if payload is not None:
                age = time.time() - float(payload.get("acquired_unix", 0.0))
                if age < float(payload.get("ttl_s", self.ttl_s)):
                    raise WriterLeaseError(
                        f"store {self.store_dir}: writer epoch {head} "
                        f"({payload.get('op', '?')} by "
                        f"{payload.get('owner', '?')[:8]}, {age:.0f}s old) "
                        f"is still active — single-writer contract "
                        f"(STATE.md §5); back off and retry after it releases"
                    )
            # expired: the holder is presumed dead; claim over it
        claim = json.dumps(
            {
                "owner": self.owner,
                "op": self.op,
                "acquired_unix": time.time(),
                "ttl_s": self.ttl_s,
            }
        ).encode("utf-8")
        epoch = head + 1
        if not self.backend.put_if_absent(
            f"{self._lease_dir}/e{epoch:012d}.json", claim
        ):
            raise WriterLeaseError(
                f"store {self.store_dir}: lost the epoch-{epoch} claim "
                f"race to a concurrent writer — single-writer contract "
                f"(STATE.md §5); back off and retry"
            )
        self.epoch = epoch
        self._retire_old(epoch, claims, releases)
        return epoch

    def _older_than_ttl(self, path: str) -> bool:
        from py4j.protocol import Py4JError

        mtime = getattr(self.backend, "mtime", None)  # custom backends may lack it
        if mtime is None:
            return False
        try:
            return time.time() - mtime(path) >= self.ttl_s
        except (OSError, Py4JError):  # the claim vanished or can't be stat-ed
            return False

    def release(self) -> None:
        if self.epoch is None:
            return
        self.backend.put_if_absent(
            f"{self._lease_dir}/r{self.epoch:012d}.json",
            json.dumps(
                {"owner": self.owner, "released_unix": time.time()}
            ).encode("utf-8"),
        )
        self.epoch = None

    def _retire_old(self, epoch: int, claims, releases) -> None:
        """Bounded lease-dir census: drop claim/release pairs retired
        more than _KEEP_EPOCHS behind the head. Old epochs are never
        consulted (only the head arbitrates), so concurrent deletion is
        harmless."""
        for n in sorted(claims):
            if n < epoch - _KEEP_EPOCHS and n in releases:
                self.backend.delete(f"{self._lease_dir}/e{n:012d}.json")
                self.backend.delete(f"{self._lease_dir}/r{n:012d}.json")


def current_epoch_for(path: str) -> int | None:
    """The current thread's held lease epoch whose store root prefixes
    ``path`` (the fencing stamp for journals written by nested
    machinery), or None. Matches the store root itself, paths under it,
    and the families' sibling sidecars (``<store>_tombstones``,
    ``<store>_rev``, ``<store>_revisions``)."""
    p = _norm(path)
    tid = threading.get_ident()
    for (t, root), lease in list(_HELD.items()):
        if t == tid and (
            p == root
            or p.startswith(root + "/")
            or p.startswith(root + "_")
        ):
            return lease.epoch
    return None


# --- store generation stamp -------------------------------------------------
#
# A monotonic per-store generation under <store>/_gen/ (exactly one
# g{N:012d} marker; transiently two during a bump, readers take the max).
# Every fenced owner op bumps it AT ENTRY (post-claim, outermost only), so
# a CROSS-SESSION reader can detect that some writer — this process or
# another — has run (or crashed mid-run) since it last validated, with ONE
# directory listing. The probe memo records the gen it validated and
# resets itself on mismatch; this closes the staleness seam where a
# long-lived reader session holds a memoized 'healed' claim while a
# separate writer session dies mid-compaction (the same-session half is
# already closed by invalidate-at-entry).

GEN_DIRNAME = "_gen"


def read_store_gen(spark, store_dir: str) -> int:
    """Current generation of the store (0 = never written by a fenced
    op). One backend listing."""
    store = _norm(store_dir)
    backend = _backend_for(spark, store)
    gdir = _strip_file_scheme(store, backend) + "/" + GEN_DIRNAME
    gens = [
        int(n[1:-5])
        for n in backend.list(gdir)
        if n.startswith("g") and n.endswith(".json") and n[1:-5].isdigit()
    ]
    return max(gens) if gens else 0


def bump_store_gen(spark, store_dir: str) -> int:
    """Advance the store generation (fenced-owner-op entry). Retries past
    put-if-absent collisions (two bumpers converge on distinct gens);
    retires older markers after the new one is durable."""
    store = _norm(store_dir)
    backend = _backend_for(spark, store)
    gdir = _strip_file_scheme(store, backend) + "/" + GEN_DIRNAME
    cur = read_store_gen(spark, store)
    nxt = cur + 1
    payload = json.dumps({"bumped_unix": time.time()}).encode("utf-8")
    while not backend.put_if_absent(f"{gdir}/g{nxt:012d}.json", payload):
        nxt += 1
    for n in backend.list(gdir):
        if (
            n.startswith("g")
            and n.endswith(".json")
            and n[1:-5].isdigit()
            and int(n[1:-5]) < nxt
        ):
            backend.delete(f"{gdir}/{n}")
    return nxt


def _strip_file_scheme(store: str, backend) -> str:
    if store.startswith("file:") and isinstance(backend, _LocalLeaseBackend):
        return store[len("file:") :]
    return store


def fenced(op: str):
    """Decorator fencing an owner op whose signature starts
    ``(spark, store_dir, ...)`` — the shared shape of every maintenance/
    purge/revise/delete entry point across the index families. Reentrant
    through the per-thread registry, so a fenced op calling another
    fenced op on the same store acquires once."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, store_dir, *args, **kwargs):
            with writer_lease(spark, store_dir, op):
                return fn(spark, store_dir, *args, **kwargs)

        return wrapper

    return deco


class writer_lease:
    """Context manager fencing an owner op on ``store_dir``. Reentrant
    per process: nesting on a held store is a pass-through (only the
    outermost exit releases). Raises :class:`WriterLeaseError` without
    touching the store when another writer holds the lease."""

    def __init__(self, spark, store_dir: str, op: str, **kw):
        self._spark = spark
        self._store = _norm(store_dir)
        self._op = op
        self._kw = kw
        self._mine: WriterLease | None = None

    def __enter__(self):
        key = (threading.get_ident(), self._store)
        held = _HELD.get(key)
        if held is not None:
            return held  # nested owner op on the same store, same thread
        lease = WriterLease(self._spark, self._store, op=self._op, **self._kw)
        lease.acquire()
        _HELD[key] = lease
        self._mine = lease
        # generation bump AT ENTRY, after winning the claim: cross-session
        # readers' memos go stale the moment a writer starts, so a writer
        # crash mid-op can never hide behind another session's memo
        try:
            bump_store_gen(self._spark, self._store)
        except Exception:
            lease.release()
            _HELD.pop(key, None)
            self._mine = None
            raise
        return lease

    def __exit__(self, exc_type, exc, tb):
        if self._mine is not None:
            try:
                self._mine.release()
            finally:
                _HELD.pop((threading.get_ident(), self._store), None)
        return False
