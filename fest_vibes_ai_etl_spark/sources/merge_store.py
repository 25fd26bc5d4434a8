"""Exactly-once MERGE into partitioned parquet — no Delta required.

SURVEY §7.2 hard item (2): the reference gets upsert atomicity from Postgres
ON CONFLICT; plain parquet has no MERGE. The discipline that replaces it:

1. read ONLY the target partitions the source touches (partition pruning on
   the merge keys' partition column);
2. ``merge_coalesce`` those partitions with the source (idempotent);
3. dynamic-partition-overwrite the result — untouched partitions' files are
   never rewritten, and a re-run of the same source is a byte-identical
   no-op.

At 100 TB this is the difference between rewriting the table nightly and
rewriting only the dates that arrived. Failure mid-write is safe: dynamic
overwrite commits per-partition via the Hadoop committer, and re-running the
merge converges (idempotence is tested, not assumed).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_coalesce


def merge_into_partitioned(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    partition_col: str,
    coalesce_cols: Sequence[str] | None = None,
    overwrite_cols: Sequence[str] = (),
    keep_if_null_cols: Sequence[str] = (),
) -> None:
    """Upsert ``source`` into the parquet table at ``target_path``
    (partitioned by ``partition_col``) with merge_coalesce semantics,
    rewriting only the partitions present in the source.

    Invariant: a merge key must not move between partitions (an entity's
    partition value is part of its identity — true for the silver tables,
    where event_date is derived from the event's natural key). A key that
    changed partitions would leave its old row in an untouched partition."""
    touched = [r[0] for r in source.select(partition_col).distinct().collect()]

    from pyspark.errors import AnalysisException

    try:
        target = spark.read.parquet(target_path)
        target_slice = target.filter(F.col(partition_col).isin(touched))
        merged = merge_coalesce(
            target_slice,
            source,
            keys=keys,
            coalesce_cols=coalesce_cols,
            overwrite_cols=overwrite_cols,
            keep_if_null_cols=keep_if_null_cols,
        )
    except AnalysisException as exc:
        # first write ⇔ PATH_NOT_FOUND only; an existing-but-unreadable
        # table must propagate — the dynamic partition overwrite below
        # would replace the touched partitions with the batch alone
        from ..errors import is_path_not_found

        if not is_path_not_found(exc):
            raise
        merged = source

    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target_path)
    )


class ConcurrentWriteError(RuntimeError):
    """Raised when a merge loses the version CAS ``max_attempts`` times."""


# --- commit backends: the atomic put-if-absent seam -----------------------
#
# The ONLY primitive the commit protocol needs from storage is
# "publish these bytes under this name iff the name does not exist, and
# tell me truthfully whether MY bytes own the name now". Everything else
# (staged parquet data, vacuum) is plain file IO. Extracting it as a seam
# lets the same protocol run on:
#   - local FS: a private temp file linked into place
#     (LocalFSCommitBackend, the default);
#   - S3-style object stores: conditional PUT with If-None-Match:* —
#     modeled by MemoryObjectStoreCommitBackend, including the one failure
#     mode conditional PUT adds that a link cannot produce: an AMBIGUOUS
#     error (500/timeout) after the write became durable. The contract
#     resolves it by read-back: manifests embed per-writer staging UUIDs,
#     so byte-comparing the stored object decides ownership exactly.


class LocalFSCommitBackend:
    """put-if-absent on a POSIX local filesystem, content-atomic: the
    payload is written to a private temp file, then ``link(2)``-ed into
    place, which fails with ``EEXIST`` atomically. The name therefore
    only ever appears fully written. A bare ``O_CREAT|O_EXCL`` followed
    by ``write()`` would expose an empty file between the two calls: a
    concurrent reader parses nothing, and a writer that dies there
    leaves an empty head manifest that no later commit can replace."""

    def list(self, commits_dir: str) -> list[str]:
        import os

        try:
            return os.listdir(commits_dir)
        except OSError:
            return []

    def get(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def put_if_absent(self, path: str, data: bytes) -> bool:
        import os
        import uuid

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


class MemoryObjectStoreCommitBackend:
    """In-memory stand-in for an S3-style object store's conditional PUT
    (``If-None-Match: *``), for contract-testing the commit protocol
    against object-store semantics — including injected faults.

    ``inject(*modes)`` queues per-call fault modes consumed FIFO by
    subsequent ``put_if_absent`` calls:

    - ``"error_before_write"``: transient 5xx before the object becomes
      durable — retried internally (the SDK-retry shape);
    - ``"error_after_write"``: the PUT became durable but the client saw a
      5xx/timeout — the ambiguous case. Resolved by read-back: if the
      stored bytes are OURS the put succeeded (True), if they are another
      writer's it lost the race (False). Manifests contain per-writer
      staging UUIDs, so the byte compare is decisive.
    - ``"stale_list"`` (consumed by ``list``, separate FIFO): the listing
      omits the lexically-newest commit — real object-store LIST gives no
      ordering guarantee relative to other writers' in-flight PUTs. The
      protocol must survive this because the conditional PUT, never the
      listing, arbitrates: a writer that based its merge on a stale
      ``latest()`` simply loses the CAS on the version it re-creates and
      retries against the true head.
    """

    def __init__(self):
        import threading

        self._objects: dict[str, bytes] = {}
        self._lock = threading.Lock()
        self._faults: list[str] = []
        self._list_faults: list[str] = []

    def inject(self, *modes: str) -> None:
        for m in modes:
            (self._list_faults if m == "stale_list" else self._faults).append(m)

    def _next_fault(self) -> str | None:
        return self._faults.pop(0) if self._faults else None

    def list(self, commits_dir: str) -> list[str]:
        prefix = commits_dir.rstrip("/") + "/"
        with self._lock:
            names = [
                k[len(prefix):] for k in self._objects
                if k.startswith(prefix) and "/" not in k[len(prefix):]
            ]
            stale = bool(self._list_faults) and self._list_faults.pop(0)
        if stale and names:
            names.remove(max(names))  # the newest commit hasn't "surfaced"
        return names

    def get(self, path: str) -> bytes:
        with self._lock:
            try:
                return self._objects[path]
            except KeyError:
                raise FileNotFoundError(path) from None

    def put_if_absent(self, path: str, data: bytes) -> bool:
        while True:
            fault = self._next_fault()
            if fault == "error_before_write":
                continue  # transient pre-durability 5xx: SDK-style retry
            with self._lock:
                existing = self._objects.get(path)
                if existing is None:
                    self._objects[path] = data
                    stored_ours = True
                else:
                    stored_ours = existing == data
            if fault == "error_after_write":
                # client saw an error; durability state is whatever the
                # store now holds — resolve by read-back compare.
                with self._lock:
                    return self._objects.get(path) == data
            return stored_ours


# --- hive partition-path escaping ------------------------------------------
#
# Spark writes partition directories as ``col=<escaped value>`` using Hive's
# escapePathName (ExternalCatalogUtils.escapePathName in the Spark source):
# ASCII 0x01-0x1F plus ``" # % ' * / : = ? \\ DEL { [ ] ^`` become %XX
# (uppercase hex); a NULL or empty value becomes __HIVE_DEFAULT_PARTITION__.
# Manifest keys are derived from those directory names, so every RAW
# partition value compared against the manifest must pass through the same
# encoding — timestamps contain ':', and a mismatch would silently read
# nothing and let a merge overwrite the partition (advisor round-4 finding).

_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# Reserved manifest keys (table metadata living alongside partition
# entries). Membership MUST be exact, never `startswith("_")` — Spark
# writes NULL partitions as ``__HIVE_DEFAULT_PARTITION__``, which starts
# with '_': a prefix test made every NULL-partition entry invisible to
# reads and, far worse, excluded its directory from vacuum's live set
# (found by the round-6 timestamp-partition round-trip test).
_RESERVED_KEYS = frozenset({"_txn"})
_HIVE_SPECIALS = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list('"#%\'*/:=?\\\x7f{[]^')
)


def _escape_hive_path(s: str) -> str:
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_SPECIALS else c for c in s
    )


def _part_key(value) -> str:
    """Manifest key for a raw partition VALUE — Spark's
    getPartitionPathString stringification + hive path escaping. Exact for
    string/int/date/timestamp partition columns; NULL and '' map to the
    hive default partition.

    Timestamps need more than ``str()``: Spark's cast-to-string TRIMS
    trailing zeros from the fractional second (``19:00:00.12``) where
    Python prints the full six digits (``19:00:00.120000``) — verified
    against actual partitionBy directory names; the mismatch would make a
    fractional-second partition invisible to conflict detection and
    partition_values reads (the same silent-loss class as the ':' escaping
    bug this function fixed in round 5)."""
    import datetime as _dt

    if value is None:
        return _HIVE_DEFAULT_PARTITION
    if isinstance(value, _dt.datetime):
        s = value.strftime("%Y-%m-%d %H:%M:%S")
        if value.microsecond:
            s += (".%06d" % value.microsecond).rstrip("0")
    else:
        s = str(value)
    return _escape_hive_path(s) if s else _HIVE_DEFAULT_PARTITION


class VersionedParquetTable:
    """MERGE with optimistic concurrency over plain parquet — manifest-CAS.

    ``merge_into_partitioned`` above assumes a single writer (partition-
    overwrite discipline). The reference instead survives 5 concurrent
    Lambda writers via Postgres row locks + deadlock retry with exponential
    backoff (/root/reference/src/loader/service.py:862-902). This class is
    the lakehouse-native equivalent — the Iceberg/Delta commit protocol
    reduced to its core, on the filesystem the sandbox has:

    - Table state is an immutable MANIFEST: partition value → data
      directory. Manifests live in ``_commits/v{N}.json``.
    - A merge stages its output under ``data/{uuid}/`` (hive-partitioned),
      then COMMITS by creating ``_commits/v{N+1}.json`` with the
      backend's put-if-absent — the filesystem's compare-and-swap (the same
      put-if-absent pattern as the cache-export sink's manifest publish,
      sources/cache_export_sink.py). Exactly one of two racing writers
      creates that name; the loser deletes its staging, re-reads the NEW
      table state, recomputes its merge, and retries with the reference's
      backoff schedule (0.1·2^attempt + jitter).
    - Readers resolve the latest manifest and see an atomic snapshot;
      replaced partitions' old directories become garbage collected by
      ``vacuum()``.

    On S3/HDFS the CAS primitive becomes conditional-PUT / atomic-create,
    which is exactly how Delta's commit service and Iceberg's catalog swap
    work — the protocol here is scale-portable even though the test bed is
    a local filesystem."""

    def __init__(self, path: str, partition_col: str, commit_backend=None):
        import os

        self.path = path
        self.partition_col = partition_col
        self._commits = os.path.join(path, "_commits")
        self._data = os.path.join(path, "data")
        self.backend = commit_backend or LocalFSCommitBackend()

    # Strict manifest-name format: exactly v + 12 digits + .json. latest()
    # sorts LEXICALLY, which orders versions numerically only under fixed
    # zero-padding — a stray hand-written ``v13.json`` would missort above
    # ``v000000000014.json``; malformed names are ignored, never trusted.
    import re as _re

    _COMMIT_RE = _re.compile(r"^v(\d{12})\.json$")

    def _commit_versions(self) -> list[int]:
        out = []
        for n in self.backend.list(self._commits):
            m = self._COMMIT_RE.match(n)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    # -- state ---------------------------------------------------------
    def latest(self) -> tuple[int, dict]:
        """(version, manifest). Version 0 = empty table, ``{}`` manifest."""
        versions = self._commit_versions()
        if not versions:
            return 0, {}
        return versions[-1], self._read_manifest(versions[-1])

    def history(self) -> list[int]:
        """Committed versions, ascending. Every listed version is readable
        until :meth:`vacuum` runs (vacuum keeps only the latest's roots)."""
        return self._commit_versions()

    def _read_manifest(self, version: int) -> dict:
        import json
        import os

        return json.loads(
            self.backend.get(
                os.path.join(self._commits, f"v{version:012d}.json")
            )
        )

    def _manifest_df(
        self, spark: SparkSession, manifest: dict, partition_values=None,
        _keys=None,
    ) -> DataFrame | None:
        """Materialize a manifest as a DataFrame (optionally pruned to
        ``partition_values`` — RAW values, hive-escaped here before the
        manifest-key compare; internal callers that already hold escaped
        manifest KEYS pass ``_keys`` instead, never both). Returns None when
        nothing matches. Dirs are grouped by staging root so Spark
        re-derives the hive partition column via basePath; one union per
        root, AQE coalesces."""
        import os

        manifest = {k: d for k, d in manifest.items() if k not in _RESERVED_KEYS}
        if partition_values is not None:
            wanted = {_part_key(v) for v in partition_values}
            manifest = {k: d for k, d in manifest.items() if k in wanted}
        elif _keys is not None:
            wanted = set(_keys)
            manifest = {k: d for k, d in manifest.items() if k in wanted}
        if not manifest:
            return None
        by_root: dict[str, list[str]] = {}
        for entry in manifest.values():
            d = os.path.join(self.path, entry["dir"])
            by_root.setdefault(os.path.dirname(d), []).append(d)
        out = None
        for root, dirs in sorted(by_root.items()):
            df = spark.read.option("basePath", root).parquet(*sorted(dirs))
            # allowMissingColumns: roots staged before a schema evolution
            # lack the evolved columns; their rows read as null for them.
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True
            )
        return out

    def read(self, spark: SparkSession, partition_values=None) -> DataFrame | None:
        """Snapshot read of the LATEST manifest."""
        _v, manifest = self.latest()
        return self._manifest_df(spark, manifest, partition_values)

    def read_version(
        self, spark: SparkSession, version: int, partition_values=None
    ) -> DataFrame | None:
        """Time travel: snapshot read AT ``version`` — manifests are
        immutable, so an old version stays byte-stable until vacuumed (the
        Delta/Iceberg ``VERSION AS OF`` contract; readers needing long
        retention defer vacuum, the same trade as Delta's retention
        window)."""
        return self._manifest_df(
            spark, self._read_manifest(version), partition_values
        )

    def diff_versions(
        self, spark: SparkSession, v_old: int, v_new: int,
        keys: Sequence[str], compare_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """Row-level CDC between two committed versions:
        (*keys, status ∈ added/removed/changed/unchanged) via the
        hash-compare snapshot diff (operators/diff.py — each side reduces
        to one 64-bit hash before the join, so wide rows don't widen the
        shuffle). Manifest-level pruning first: only partitions whose
        manifest entry CHANGED between the versions are read at all —
        an unchanged partition points at the same immutable directory and
        cannot contain a delta, so a 10-partition touch on a 10k-partition
        table reads 10 partitions, not 10k."""
        from ..operators.diff import snapshot_diff

        m_old, m_new = self._read_manifest(v_old), self._read_manifest(v_new)
        changed = [
            p
            for p in set(m_old) | set(m_new)
            if p not in _RESERVED_KEYS and m_old.get(p) != m_new.get(p)
        ]
        old = self._manifest_df(spark, m_old, _keys=changed)
        new = self._manifest_df(spark, m_new, _keys=changed)
        if old is None and new is None:
            schema = ", ".join(f"{k} string" for k in keys) + ", status string"
            return spark.createDataFrame([], schema)
        if old is None:
            return new.select(*keys).withColumn("status", F.lit("added"))
        if new is None:
            return old.select(*keys).withColumn("status", F.lit("removed"))
        return snapshot_diff(old, new, list(keys), list(compare_cols) if compare_cols else None)

    # -- write ---------------------------------------------------------
    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: Sequence[str],
        coalesce_cols: Sequence[str] | None = None,
        overwrite_cols: Sequence[str] = (),
        keep_if_null_cols: Sequence[str] = (),
        max_attempts: int = 4,
        txn: tuple[str, int] | None = None,
        _pre_commit_hook=None,
    ) -> int:
        """Upsert ``source`` and commit via version CAS; returns the
        committed version. ``_pre_commit_hook(attempt)`` is a test seam
        that runs between staging and CAS (to force deterministic races).
        Raises :class:`ConcurrentWriteError` after ``max_attempts`` lost
        races.

        ``txn=(app_id, txn_version)`` makes the merge IDEMPOTENT across
        replays (Delta's txnAppId/txnVersion contract): the manifest records
        the highest committed txn_version per app_id under the reserved
        ``_txn`` key, and a merge whose txn_version is already committed
        returns the current version without writing — the exactly-once
        primitive the streaming sink (streaming/ingest.py) builds on, since
        a crashed foreachBatch replays the same (query_id, batch_id)."""
        import random
        import time

        pcol = self.partition_col
        touched = [r[0] for r in source.select(pcol).distinct().collect()]
        for attempt in range(max_attempts):
            version, manifest = self.latest()
            if txn is not None:
                app_id, txn_version = txn
                if manifest.get("_txn", {}).get(app_id, -1) >= txn_version:
                    return version  # replayed batch: already committed
            target_slice = self.read(spark, partition_values=touched)
            if target_slice is None:
                merged = source
            else:
                merged = merge_coalesce(
                    target_slice,
                    source,
                    keys=keys,
                    coalesce_cols=coalesce_cols,
                    overwrite_cols=overwrite_cols,
                    keep_if_null_cols=keep_if_null_cols,
                )
            staged_parts, stage_root = self._stage(merged)
            if _pre_commit_hook is not None:
                _pre_commit_hook(attempt)
            committed = self._commit_or_rebase(
                version, manifest, staged_parts, touched, txn
            )
            if committed is not None:
                self._unmark(stage_root)
                return committed
            # Logical conflict: the winner rewrote one of OUR partitions, so
            # the staged merge is stale — discard and recompute against the
            # new snapshot (reference backoff schedule,
            # loader/service.py:889-893).
            self._abandon(stage_root)
            time.sleep(0.1 * (2**attempt) + random.uniform(0, 0.05))
        raise ConcurrentWriteError(
            f"merge lost the version CAS {max_attempts} times at {self.path}"
        )

    def _commit_or_rebase(
        self, version: int, manifest: dict, staged_parts: dict,
        touched, txn: tuple[str, int] | None, drop_parts=(),
    ) -> int | None:
        """CAS-commit ``staged_parts`` on top of ``manifest``; on a lost
        race, REBASE instead of recompute when the interleaved commits did
        not touch our partitions (Delta-style logical conflict detection:
        our merged output was computed from partition states the winner
        left unchanged, so it is still exactly correct — only the manifest
        base moves). Returns the committed version, or None when a real
        conflict requires the caller to recompute."""
        # Conflict detection and manifest drops compare against manifest
        # KEYS, which are hive-escaped directory names — raw values must go
        # through the same encoding or a ':'-bearing partition is invisible
        # to both (silent lost-update).
        ours = {_part_key(t) for t in touched}
        drop = {_part_key(p) for p in drop_parts}
        for _rebase in range(8):
            base = {k: v for k, v in manifest.items() if k not in drop}
            new_manifest = {**base, **staged_parts}
            if txn is not None:
                new_manifest["_txn"] = {
                    **manifest.get("_txn", {}), txn[0]: txn[1]
                }
            if self._commit_cas(version + 1, new_manifest):
                return version + 1
            latest_version, latest_manifest = self.latest()
            if txn is not None and (
                latest_manifest.get("_txn", {}).get(txn[0], -1) >= txn[1]
            ):
                return latest_version  # someone replayed our txn: done
            if any(
                latest_manifest.get(p) != manifest.get(p) for p in ours
            ):
                return None  # our partitions moved: recompute required
            version, manifest = latest_version, latest_manifest
        return None

    def delete(
        self,
        spark: SparkSession,
        predicate,
        partition_values=None,
        max_attempts: int = 4,
        _pre_commit_hook=None,
    ) -> tuple[int, int]:
        """Row-level DELETE (copy-on-write): rewrite ONLY the partitions
        containing matching rows without the matching rows, commit via the
        same version CAS (rebase-safe like merge). Returns
        (committed_version, rows_deleted) — (current, 0) when nothing
        matches. Rows where the predicate is NULL are KEPT (SQL DELETE
        semantics: delete where predicate is true).

        ``partition_values`` scopes the match scan to those partitions —
        pass it whenever the predicate implies a partition range (a full
        delete otherwise scans the table once to FIND touched partitions,
        which is inherent for predicates on non-partition columns).

        Retention note (the GDPR shape): deleted rows remain readable via
        time travel until :meth:`vacuum` drops the superseded directories —
        a right-to-be-forgotten pipeline runs delete + vacuum; audit
        pipelines defer vacuum. Same trade as Delta's VACUUM retention."""
        import random
        import time

        pcol = self.partition_col
        keep = ~F.coalesce(predicate, F.lit(False))
        for attempt in range(max_attempts):
            version, manifest = self.latest()
            current = self.read(spark, partition_values=partition_values)
            if current is None:
                return version, 0
            touched = [
                r[0]
                for r in current.filter(F.coalesce(predicate, F.lit(False)))
                .select(pcol)
                .distinct()
                .collect()
            ]
            if not touched:
                return version, 0
            target_slice = self.read(spark, partition_values=touched)
            kept = target_slice.filter(keep)
            n_deleted = target_slice.count() - kept.count()
            staged_parts, stage_root = self._stage(kept)
            if _pre_commit_hook is not None:
                _pre_commit_hook(attempt)
            committed = self._commit_or_rebase(
                version, manifest, staged_parts, touched, None,
                drop_parts=touched,  # emptied partitions leave the manifest
            )
            if committed is not None:
                self._unmark(stage_root)
                return committed, n_deleted
            self._abandon(stage_root)
            time.sleep(0.1 * (2**attempt) + random.uniform(0, 0.05))
        raise ConcurrentWriteError(
            f"delete lost the version CAS {max_attempts} times at {self.path}"
        )

    def _marker(self, stage_root: str) -> str:
        return stage_root + "._STAGING"

    def _stage(self, df: DataFrame) -> tuple[dict, str]:
        """Write ``df`` hive-partitioned under a fresh staging root; returns
        (manifest fragment, staging root path). A sibling ``._STAGING``
        marker is dropped BEFORE any data lands: vacuum treats marked roots
        as live (an in-flight writer between stage and CAS), so a
        concurrent vacuum cannot delete files a commit is about to
        reference. The writer removes the marker on commit (root now
        manifest-referenced) or abandon (root deleted)."""
        import os
        import uuid

        stage_id = uuid.uuid4().hex[:12]
        stage_root = os.path.join(self._data, stage_id)
        os.makedirs(self._data, exist_ok=True)
        with open(self._marker(stage_root), "w") as f:
            f.write("in-flight")
        df.write.partitionBy(self.partition_col).parquet(stage_root)
        parts = {
            d.split("=", 1)[1]: {"dir": f"data/{stage_id}/{d}"}
            for d in os.listdir(stage_root)
            if d.startswith(f"{self.partition_col}=")
        }
        clash = set(parts) & _RESERVED_KEYS
        if clash:
            # A literal string partition value spelling a reserved manifest
            # key would be silently shadowed by the metadata entry at commit
            # time (merge-then-vanish). Fail loud instead; data is intact.
            self._abandon(stage_root)
            raise ValueError(
                f"partition value(s) {sorted(clash)} collide with reserved "
                f"manifest keys; rename the value or the partition scheme"
            )
        return parts, stage_root

    def _unmark(self, stage_root: str) -> None:
        import contextlib
        import os

        with contextlib.suppress(OSError):
            os.remove(self._marker(stage_root))

    def _abandon(self, stage_root: str) -> None:
        """Discard a staged-but-uncommitted root (lost race): data first,
        marker last, so a crash between the two leaves a marker that
        vacuum's retention window eventually reclaims — never an unmarked
        orphan a concurrent commit might still reference."""
        import shutil

        shutil.rmtree(stage_root, ignore_errors=True)
        self._unmark(stage_root)

    def _commit_cas(self, version: int, manifest: dict) -> bool:
        """Atomically publish ``manifest`` as ``version`` iff nobody else
        has — the backend's put-if-absent IS the compare-and-swap
        (a linked temp file locally; conditional PUT on object stores)."""
        import json
        import os

        return self.backend.put_if_absent(
            os.path.join(self._commits, f"v{version:012d}.json"),
            json.dumps(manifest, sort_keys=True).encode(),
        )

    def compact(
        self, spark: SparkSession, sort_cols=None, max_attempts: int = 4,
        _pre_commit_hook=None,
    ) -> int:
        """OPTIMIZE: rewrite the CURRENT snapshot into one fresh staging
        root (one tidy directory per partition) and commit it through the
        same version CAS as merge — concurrent merges serialize against
        the compaction, and a lost compaction race just re-reads and
        re-stages. Follow with :meth:`vacuum` to drop superseded roots.
        At 100 TB this is the small-file / manifest-fragmentation
        maintenance job every lakehouse table needs (Delta OPTIMIZE /
        Iceberg rewrite_data_files); returns the committed (or, for an
        empty table, current) version.

        ``sort_cols`` clusters rows within each rewritten partition
        (OPTIMIZE ... ZORDER BY when passed a Morton key built with
        functions/zorder.morton_key over bucketed dimensions; plain
        linear clustering for a single column) — parquet row-group
        min/max stats then prune point/range reads inside the partition."""
        import random
        import time

        for attempt in range(max_attempts):
            version, manifest = self.latest()
            current = self.read(spark)
            if current is None:
                return version
            staged = current.repartition(self.partition_col)
            if sort_cols:
                # partition col leads the sort: the parquet writer requires
                # rows grouped by partition columns and would otherwise
                # insert its own (clustering-destroying) sort on them.
                staged = staged.sortWithinPartitions(
                    self.partition_col, *sort_cols
                )
            staged_parts, stage_root = self._stage(staged)
            if _pre_commit_hook is not None:
                _pre_commit_hook(attempt)
            new_manifest = dict(staged_parts)
            if "_txn" in manifest:  # compaction must not reopen committed txns
                new_manifest["_txn"] = manifest["_txn"]
            if self._commit_cas(version + 1, new_manifest):
                self._unmark(stage_root)
                return version + 1
            self._abandon(stage_root)
            time.sleep(0.1 * (2**attempt) + random.uniform(0, 0.05))
        raise ConcurrentWriteError(f"compact lost the version CAS at {self.path}")

    def describe_history(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE HISTORY: one row per committed version —
        (version, n_partitions, partitions_changed vs the previous
        version, n_txn_apps). Metadata-only (reads manifests, never data);
        ordered ascending so the newest version is the last row."""
        rows = []
        prev: dict = {}
        for v in self.history():
            m = self._read_manifest(v)
            parts = {k: e for k, e in m.items() if k not in _RESERVED_KEYS}
            changed = sorted(
                p for p in set(parts) | set(prev)
                if parts.get(p) != prev.get(p)
            )
            rows.append(
                (v, len(parts), changed, len(m.get("_txn", {})))
            )
            prev = parts
        return spark.createDataFrame(
            rows,
            "version long, n_partitions int, partitions_changed array<string>, "
            "n_txn_apps int",
        )

    # -- SQL surface -----------------------------------------------------
    def register_sql(self, spark: SparkSession, name: str) -> None:
        """Expose the table to ``spark.sql``: temp view ``name`` = the
        LATEST snapshot at registration time. A temp view pins the plan it
        was created from, so RAW ``spark.sql`` reads see that snapshot
        until re-registration; queries routed through :meth:`sql` never
        have the problem — it re-pins the view to the CURRENT latest
        manifest on every call (auto-refresh), which is the contract
        warehouse users actually expect from a table name. Time travel and
        history also go through :meth:`sql`."""
        df = self.read(spark)
        if df is None:
            raise ValueError(
                f"cannot register empty versioned table at {self.path}"
            )
        self._sql_name = name
        self._sql_version = self.latest()[0]
        df.createOrReplaceTempView(name)

    def sql(self, spark: SparkSession, query: str) -> DataFrame:
        """Run SQL with the Delta-style extensions warehouse users expect:

        - ``SELECT ... FROM <name> VERSION AS OF <k> ...`` — each
          referenced version is materialized as a temp view
          ``<name>__v<k>`` (snapshot of that immutable manifest) and the
          query is rewritten onto it;
        - ``DESCRIBE HISTORY <name>`` — the :meth:`describe_history` frame.

        Everything else passes through to ``spark.sql`` unchanged. The
        plain ``<name>`` view is refreshed to the LATEST committed version
        first, so a write that happened after :meth:`register_sql` is
        visible — the stale-snapshot footgun exists only for raw
        ``spark.sql`` calls that bypass this method."""
        import re

        name = getattr(self, "_sql_name", None)
        if name is None:
            raise ValueError("call register_sql(spark, name) first")
        if self.latest()[0] != getattr(self, "_sql_version", None):
            self.register_sql(spark, name)  # auto-refresh to latest
        m = re.fullmatch(
            rf"\s*DESCRIBE\s+HISTORY\s+{re.escape(name)}\s*;?\s*",
            query, re.IGNORECASE,
        )
        if m:
            return self.describe_history(spark)

        def _pin(match: re.Match) -> str:
            v = int(match.group(1))
            view = f"{name}__v{v}"
            df = self.read_version(spark, v)
            if df is None:
                raise ValueError(f"version {v} of {name} is empty/unknown")
            df.createOrReplaceTempView(view)
            return f" {view} "

        rewritten = re.sub(
            rf"\b{re.escape(name)}\s+VERSION\s+AS\s+OF\s+(\d+)\b",
            _pin, query, flags=re.IGNORECASE,
        )
        return spark.sql(rewritten)

    def restore(self, version: int, max_attempts: int = 4) -> int:
        """Delta-style RESTORE: re-commit ``version``'s manifest as the NEW
        latest version (an undo that preserves history — nothing is
        deleted, so the mistake remains auditable via time travel). Data
        directories are immutable and shared, so restore is metadata-only:
        one manifest write through the same CAS as every commit. The
        restored manifest keeps the CURRENT ``_txn`` watermarks — rolling
        back data must not reopen committed stream transactions (a replayed
        batch would otherwise double-apply after a restore). Fails if the
        target version's directories were already vacuumed (read it first
        to check, or just let the next read fail loudly)."""
        import random
        import time

        target = {
            k: v for k, v in self._read_manifest(version).items()
            if k not in _RESERVED_KEYS
        }
        for attempt in range(max_attempts):
            current_version, current_manifest = self.latest()
            if version == current_version:
                return current_version
            new_manifest = dict(target)
            if "_txn" in current_manifest:
                new_manifest["_txn"] = current_manifest["_txn"]
            if self._commit_cas(current_version + 1, new_manifest):
                return current_version + 1
            time.sleep(0.1 * (2**attempt) + random.uniform(0, 0.05))
        raise ConcurrentWriteError(f"restore lost the version CAS at {self.path}")

    def vacuum(self, staging_retention_s: float = 24 * 3600) -> int:
        """Delete partition DIRECTORIES no longer referenced by the LATEST
        manifest (then any emptied staging roots); returns the number of
        directories removed. Per-partition granularity matters for the
        delete path: a staging root whose partition ``a`` was superseded
        but whose ``c`` is still live must forget ``a``'s files — GDPR
        delete+vacuum has to actually remove the bytes, not just the
        manifest entry.

        Concurrent-WRITER safety: a root carrying a live ``._STAGING``
        marker belongs to an in-flight writer between stage and CAS — its
        files are not yet manifest-referenced but its commit may publish
        any moment, so vacuum must not touch them (deleting them would let
        the commit land pointing at removed directories: silent data loss).
        Markers older than ``staging_retention_s`` are crashed/abandoned
        writers (no merge stages for 24h) and are reclaimed with their
        roots — the same mtime-retention contract as Delta VACUUM's window.
        Concurrent READERS of old snapshots remain the caller's contract:
        run vacuum only when none may hold a pre-latest version.

        The same window reclaims ``_commits/*.tmp.*`` files: a writer that
        died between creating its private commit temp and linking it
        (:class:`LocalFSCommitBackend`) leaves the temp behind, and no
        commit ever reads it."""
        import os
        import shutil
        import time as _time

        now = _time.time()
        try:
            temps = [n for n in os.listdir(self._commits) if ".tmp." in n]
        except OSError:
            temps = []  # no local commits directory (an object-store backend)
        for n in temps:
            p = os.path.join(self._commits, n)
            try:
                if now - os.path.getmtime(p) >= staging_retention_s:
                    os.remove(p)
            except OSError:
                pass  # its writer linked and removed it meanwhile
        _v, manifest = self.latest()
        live = {
            e["dir"] for k, e in manifest.items() if k not in _RESERVED_KEYS
        }
        removed = 0
        try:
            roots = os.listdir(self._data)
        except OSError:
            return 0
        root_dirs = [r for r in roots if not r.endswith("._STAGING")]
        for r in root_dirs:
            root_path = os.path.join(self._data, r)
            if not os.path.isdir(root_path):
                continue
            marker = self._marker(root_path)
            if os.path.exists(marker):
                try:
                    age = now - os.path.getmtime(marker)
                except OSError:
                    continue  # marker vanished: writer just committed/abandoned
                if age < staging_retention_s:
                    continue  # in-flight writer — off limits
                # Expired marker. The writer may have CRASHED BETWEEN a
                # successful _commit_cas AND _unmark (or _unmark's
                # os.remove failed silently) — in that case the root is
                # manifest-referenced LIVE data wearing a stale marker,
                # and rmtree'ing it is exactly the silent-data-loss mode
                # the marker exists to prevent. Reclaim the root only if
                # NONE of its partition dirs are live; otherwise drop the
                # stale marker and fall through to per-partition vacuum.
                try:
                    part_dirs = [
                        d
                        for d in os.listdir(root_path)
                        if d.startswith(f"{self.partition_col}=")
                    ]
                except OSError:
                    continue
                if any(f"data/{r}/{d}" in live for d in part_dirs):
                    try:
                        os.remove(marker)  # stale marker on committed data
                    except OSError:
                        pass
                else:
                    shutil.rmtree(root_path, ignore_errors=True)  # crashed writer
                    try:
                        os.remove(marker)
                    except OSError:
                        pass
                    removed += 1
                    continue
            for d in os.listdir(root_path):
                if not d.startswith(f"{self.partition_col}="):
                    continue
                if f"data/{r}/{d}" not in live:
                    shutil.rmtree(os.path.join(root_path, d), ignore_errors=True)
                    removed += 1
            if not any(
                n.startswith(f"{self.partition_col}=") for n in os.listdir(root_path)
            ):
                shutil.rmtree(root_path, ignore_errors=True)
        # orphaned markers (root already gone) past retention
        for r in roots:
            if r.endswith("._STAGING"):
                p = os.path.join(self._data, r)
                root = p[: -len("._STAGING")]
                if not os.path.exists(root):
                    try:
                        if now - os.path.getmtime(p) >= staging_retention_s:
                            os.remove(p)
                    except OSError:
                        pass
        return removed
