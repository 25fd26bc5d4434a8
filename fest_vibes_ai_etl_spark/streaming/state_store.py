"""Shared conventions for the persisted corpus-as-state index stores.

Three index families keep derived state next to a streamed corpus — the
dedup sidecars (``banded_index``), the IVF cell store (``operators/ivf``),
and the lexical search index (``incremental_search``). They converged on
the same operational contract (documented in ``STATE.md``); this module
holds the pieces that are genuinely identical across families so the next
family doesn't re-derive them:

- **Layout meta guard** (:func:`adopt_or_refuse_meta` /
  :func:`meta_mismatches`): every store pins its layout parameters in an
  in-directory ``_meta.json`` (underscore-prefixed: invisible to parquet
  listings, moves with the data through directory renames). A caller whose
  configuration contradicts the stored layout must REFUSE loudly — probing
  across a layout change is silent corruption, the config-drift class all
  three families close. Families with richer adoption semantics (the
  banded index's stored-n_bands-always-wins, the IVF sample re-assignment
  verify) keep those locally and share only the mismatch computation.

- **Stream start** (:func:`start_stream`): every ``foreachBatch``
  processor in the package starts through one call.

- **Probe memo** (:func:`_memo_for` / :func:`invalidate_probe_memo` /
  :func:`recover_dirs`): the once-per-session-per-store facts a probe
  would otherwise re-verify on every call, dropped by every owner op that
  can invalidate them.

- **Driver-local key frames** (:func:`literal_frame`): the ids and
  (id, rev) keys the owner ops burn, probe and exclude, as one-task JVM
  relations instead of Python-RDD scans, linear in the key count.

- **Small-file compaction for append-per-batch directories**
  (:func:`compact_small_files` / :func:`recover_dir_compaction`): a
  directory that gains one file per micro-batch grows its listing and
  footer-read cost linearly with stream age. The compactor merges the
  SMALL files of one directory into a single segment, size-tiered: files
  at or above ``target_bytes`` are graduated segments and are never
  rewritten again, so total rewrite work over a stream's life is
  O(n log n) in bytes appended (the LSM argument), not O(batches ×
  index size). Its erase form (``erase=True``) rewrites every file
  without the excluded rows: the one physical erase of every store
  family. Crash safety is a roll-forward journal, not a directory swap
  (a swap would have to rewrite the graduated segments too):

  1. the output segments are written under an invisible ``_cstage-*``
     staging dir;
  2. ``_compact.json`` manifest (atomic write) records the finals, the
     stage and the exact input files;
  3. each final is renamed from the stage to its visible name;
  4. the inputs are deleted; the manifest and the stage are dropped.

  A crash before (2) leaves inputs intact and the staging swept by the
  next pass. From (2) on, recovery rolls FORWARD while every final is
  visible or still staged (renaming the rest, then deleting the
  inputs), and rolls BACK otherwise (visible finals deleted, inputs
  kept). Between the crash and recovery a raw reader could see finals
  and inputs simultaneously, so the single-writer discipline applies:
  owners run :func:`recover_dir_compaction` at open time (the stream
  processors and probes here do; the banded index finds its crashed
  bands through one root journal), and maintenance never runs
  concurrently with a probe. This is the package's only crash-safe
  rewrite of a store directory besides the banded re-band: every store
  family's compaction and erase (search buckets, doclen, forward rows,
  ``_rev`` sidecars, revision markers, the dedup corpus, tombstones,
  banded sidecar bands) runs on it.
"""

from __future__ import annotations

import logging
import uuid

from pyspark.sql import DataFrame, SparkSession

from .. import fsio
from .banded_index import TMP_PREFIX, is_data_file

_MANIFEST = "_compact.json"
_STAGE_PREFIX = "_cstage-"

logger = logging.getLogger(__name__)


class InFlightRecoveryError(RuntimeError):
    """A crash journal (compaction manifest / staged swap) exists and the
    caller is a READ-ONLY consumer that must not repair it — repairing
    mutates the filesystem, which is only safe for the store's single
    writer. The message names the owner op that heals it."""


def detect_dir_compaction(spark: SparkSession, dir_path: str) -> bool:
    """True when ``dir_path`` carries an unhealed compaction journal —
    the read-only twin of :func:`recover_dir_compaction` (one stat, no
    mutation). A read-only probe that sees True must raise instead of
    healing: between the journal write and the final rename the
    directory is still consistent (staging is invisible), but AFTER the
    rename a raw read sees the merged segment and its inputs
    simultaneously, so 'manifest present' is the conservative refusal
    point for a consumer that cannot tell which side of the rename it
    is on."""
    return fsio.exists(spark, dir_path.rstrip("/") + "/" + _MANIFEST)


def has_data_files(spark: SparkSession, dir_path: str) -> bool:
    """True when ``dir_path`` exists and holds a file a parquet read opens:
    visible and ``.parquet``, the compactor's own rule. A directory can
    exist with none (a crashed append's empty cell dir, an all-rows-
    excluded merge), and schema inference over it throws, so readers and
    rewriters gate on this."""
    return any(is_data_file(n) for n in fsio.list_names(spark, dir_path))


# --- layout meta -----------------------------------------------------------


def meta_mismatches(meta: dict, expected: dict) -> list[str]:
    """Human-readable field mismatches between a stored layout meta and the
    caller's expected values (missing keys count as mismatches)."""
    return [
        f"{k}: stored {meta.get(k)!r} != {v!r}"
        for k, v in expected.items()
        if meta.get(k) != v
    ]


def adopt_or_refuse_meta(
    spark: SparkSession,
    meta_path: str,
    expected: dict,
    error: type[Exception],
    what: str,
    consequence: str = "",
    advisory: dict | None = None,
) -> dict:
    """The families' shared adopt-or-refuse open: write ``expected`` as the
    layout meta when none exists (first open creates the layout), return
    the stored meta when it matches, raise ``error`` when any field
    contradicts it. ``consequence`` names what silently breaks if the
    mismatch were ignored — every refusal must tell the operator why.
    ``advisory`` fields are RECORDED with the meta but never validated
    (e.g. the id column's Spark type, which delete ops use to burn ids
    before any data exists) — pre-advisory metas stay adoptable."""
    meta = fsio.read_json(spark, meta_path)
    if meta is None:
        out = dict(expected)
        if advisory:
            out.update(advisory)
        fsio.write_json(spark, meta_path, out)
        return out
    errs = meta_mismatches(meta, expected)
    if errs:
        raise error(
            f"{what} layout mismatch — {'; '.join(errs)}."
            + (f" {consequence}" if consequence else "")
        )
    if advisory:
        # BACKFILL advisory fields a pre-advisory meta lacks (atomic
        # rewrite; single-writer open) — otherwise stores created before
        # a field existed would degrade its consumers forever (e.g. a
        # string-keyed store's delete fallback silently typing bigint)
        missing = {k: v for k, v in advisory.items() if k not in meta}
        if missing:
            meta = dict(meta)
            meta.update(missing)
            fsio.write_json(spark, meta_path, meta)
    return meta


# --- per-directory small-file compaction ------------------------------------


def literal_frame(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """``rows`` (driver-side keys: ints, strings, None) as a frame of
    ``schema`` — a StructType or DDL string. The rows travel as ONE JSON
    string literal parsed by ``from_json`` over a one-row range, so the
    frame plans as one JVM task whatever the row count, and building it
    costs one literal, not one expression per value. ``createDataFrame``
    over a Python list plans a parallelized Python RDD instead: every
    scan of it launches one Python-worker task per default-parallelism
    slice. A value its field type cannot hold fails the scan
    (``FAILFAST``) instead of reading as NULL."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if not isinstance(schema, T.StructType):
        schema = T.StructType.fromDDL(schema)
    payload = json.dumps([dict(zip(schema.names, row)) for row in rows])
    parsed = F.from_json(F.lit(payload), T.ArrayType(schema), {"mode": "FAILFAST"})
    return spark.range(0, 1, 1, 1).select(F.inline(parsed))


def _gone_race(spark, path: str) -> bool:
    """True when a failed delete is explained by the target no longer
    existing — i.e. a CONCURRENT recovery of the same crash won the race
    (two probes healing one dead maintenance pass; the exists-then-act
    window is not atomic on all filesystems). The loser re-checks state
    and moves on instead of failing the probe."""
    try:
        return not fsio.exists(spark, path)
    except OSError:  # can't re-check: treat as real
        return False


def _delete_inputs(spark, dir_path: str, names: list[str]) -> None:
    """Drop a completed merge's input files (idempotent — recovery re-runs
    it for any inputs a crash left behind; ``delete`` of a missing path
    returns False, and a concurrent recovery that deleted one first is
    tolerated). Split out so crash tests can inject a death between the
    last rename and the deletes."""
    for name in names:
        path = dir_path.rstrip("/") + "/" + name
        try:
            fsio.delete(spark, path, False)
        except OSError:
            if not _gone_race(spark, path):
                raise


def _promote(spark, dir_path: str, stage: str, names: list[str]) -> None:
    """Rename each staged final to its visible name, in order. Split out
    so crash tests can inject a death between two finals' renames."""
    for name in names:
        src, dst = f"{stage}/{name}", f"{dir_path.rstrip('/')}/{name}"
        if not fsio.rename(spark, src, dst) and not fsio.exists(spark, dst):
            raise OSError(
                f"compaction: rename {src} -> {dst} failed; manifest left "
                f"for recovery"
            )


def recover_dir_compaction(spark: SparkSession, dir_path: str) -> None:
    """Heal a crashed :func:`compact_small_files` on ``dir_path``. The
    manifest is the journal: when every final it names is visible or
    still in the stage, roll FORWARD (rename the staged ones, delete
    surviving inputs); otherwise roll BACK (delete the visible finals,
    keep the inputs). A manifest with no finals journals an
    all-rows-excluded merge, so deletion IS the compaction. A legacy
    manifest names one ``final`` and no stage. One stat in the steady
    state."""
    root = dir_path.rstrip("/")
    man_path = root + "/" + _MANIFEST
    try:
        man = fsio.read_json(spark, man_path)
    except FileNotFoundError:  # a concurrent recovery dropped it since the stat
        return
    if man is None:
        return
    if "finals" in man:
        finals = man["finals"]
    else:
        finals = [man["final"]] if man.get("final") else []
    stage = f"{root}/{man['stage']}" if man.get("stage") else None
    visible = [n for n in finals if fsio.exists(spark, f"{root}/{n}")]
    staged = [
        n for n in finals
        if n not in visible and stage and fsio.exists(spark, f"{stage}/{n}")
    ]
    if len(visible) + len(staged) == len(finals):
        _promote(spark, root, stage, staged)
        _delete_inputs(spark, root, man.get("inputs", []))
    else:
        _delete_inputs(spark, root, visible)
    try:
        fsio.delete(spark, man_path, False)
    except OSError:  # a concurrent recovery dropped it
        if not _gone_race(spark, man_path):
            raise
    if stage:
        fsio.delete(spark, stage)


def compact_small_files(
    spark: SparkSession,
    dir_path: str,
    max_files: int = 8,
    target_bytes: int = 32 << 20,
    exclude: DataFrame | None = None,
    exclude_cols: list[str] | None = None,
    erase: bool = False,
    transform=None,
) -> int:
    """Merge one directory's small parquet files (< ``target_bytes``) into
    a single segment when more than ``max_files`` of them accumulated;
    returns the number of input files merged (0 = nothing to do). Files
    at/above ``target_bytes`` are graduated segments — never rewritten.
    ``exclude`` (with ``exclude_cols`` join keys) anti-joins rows out of
    the merged segment — the tombstone fold hook: rows in graduated
    segments survive until their segment is itself rewritten (probes
    anti-join tombstones regardless). The exclude frame's OWN broadcast
    hint (or absence) governs the join strategy — callers pass frames
    from ``read_tombstones``, which applies the bounded-broadcast escape.
    ``transform`` (df → df) rewrites the merged rows (the tombstone set's
    own maintenance passes ``distinct``).

    ``erase=True`` is the physical-erase form (purge, revoke, absorb,
    revise): it rewrites EVERY data file, graduated segments included,
    whatever the file count, and writes ``max(1, bytes // target_bytes)``
    output segments, so erasing a large store stays as parallel as the
    store instead of one task writing one giant segment.

    Single-writer discipline: call between batches, never concurrently
    with a probe of the same directory. Crash-safe via the manifest
    journal (see module docstring + :func:`recover_dir_compaction`)."""
    root = dir_path.rstrip("/")
    entries = fsio.list_status(spark, root)
    if any(e.name == _MANIFEST for e in entries):
        recover_dir_compaction(spark, root)
        entries = fsio.list_status(spark, root)
    small: list[str] = []
    nbytes = 0
    for e in entries:
        if e.name.startswith(_STAGE_PREFIX):
            fsio.delete(spark, f"{root}/{e.name}")  # stale staging from a crash
            continue
        if e.name.startswith(TMP_PREFIX):
            # crashed direct-append staging: invisible garbage, sweep
            # (between batches only — the single-writer rule)
            fsio.delete(spark, f"{root}/{e.name}", False)
            continue
        if not is_data_file(e.name):
            continue
        if erase or e.size < target_bytes:
            small.append(e.name)
            nbytes += e.size
    if len(small) == 0:
        return 0
    if not erase and len(small) <= max_files:
        return 0
    if len(small) == 1 and exclude is None:
        return 0  # nothing to merge and nothing to fold
    stage_name = _STAGE_PREFIX + uuid.uuid4().hex
    stage = f"{root}/{stage_name}"
    df = spark.read.parquet(*[f"{root}/{n}" for n in small])
    if exclude is not None:
        df = df.join(exclude, exclude_cols, "left_anti")
    if transform is not None:
        df = transform(df)
    n_out = max(1, nbytes // target_bytes) if erase else 1
    df.coalesce(n_out).write.mode("overwrite").parquet(stage)
    # the stage's part names are unique per write job: they become the
    # visible finals unchanged
    finals = sorted(n for n in fsio.list_names(spark, stage) if is_data_file(n))
    # journal BEFORE the first visible rename: from here the merge rolls
    # forward while its finals are visible or staged, and the inputs go
    # only after the last rename. The fencing stamp attributes the
    # rewrite to the writer-lease epoch that performed it (STATE.md §5
    # enforcement, audit-only for recovery)
    from .writer_lease import current_epoch_for

    man_path = f"{root}/{_MANIFEST}"
    fsio.write_json(
        spark,
        man_path,
        {
            "finals": finals,
            "stage": stage_name,
            "inputs": small,
            "lease_epoch": current_epoch_for(dir_path),
        },
    )
    _promote(spark, root, stage, finals)
    _delete_inputs(spark, root, small)
    fsio.delete(spark, man_path, False)
    fsio.delete(spark, stage)
    return len(small)


# --- per-(session, store) probe memo -----------------------------------------
#
# The probe's fixed per-call overhead (meta py4j read, crash-heal manifest
# stats, per-bucket dataless listings) is a correctness cost exactly ONCE
# per session per store — everything it guards against is either immutable
# (the layout meta), monotone (a bucket with data never loses it except
# under maintenance/purge), or owner-op-caused (a crashed compaction's
# journal). So probes memoize per (Spark application id, store):
#
# - ``meta``: the layout dict — immutable after creation; the advisory
#   backfill path (_check_meta) invalidates.
# - ``healed``: directories recover_dir_compaction already cleared this
#   session. Sound because only owner ops (maintenance, purge, revise,
#   absorb) can CREATE a new crash journal, and each invalidates the memo
#   at ENTRY — a pass that dies mid-compaction leaves the memo empty, so
#   the next probe re-heals.
# - ``nonempty``: partition dirs known to hold data (positive knowledge
#   only — absence is never memoized, so a stream append that creates a
#   bucket between probes is picked up by the next listing).
#
# Cross-session limits are the SAME single-writer contract the heal path
# already documents: maintenance never runs concurrently with a probe of
# the same store. A foreign session's writes between this session's
# probes are appends (visible: never memoized away) or its own
# maintenance (which must not overlap probes anyway).

_PROBE_MEMO: dict = {}


def _memo_for(spark, index_dir: str) -> dict:
    """The per-(session, store) memo, VALIDATED against the store's
    generation stamp (round 14): every fenced owner op — in this session
    or ANY OTHER — bumps ``<store>/_gen`` at entry, so a memo whose
    recorded gen no longer matches is from before some writer ran (or
    crashed mid-run) and is dropped wholesale. Cost: one directory
    listing per call — the cross-session closure of the staleness seam
    the same-session invalidate-at-entry cannot see (a foreign writer
    process dying mid-compaction while this session holds a memoized
    'healed' claim)."""
    from .writer_lease import read_store_gen

    key = (spark.sparkContext.applicationId, index_dir.rstrip("/"))
    gen = read_store_gen(spark, index_dir)
    memo = _PROBE_MEMO.get(key)
    if memo is None or memo.get("gen") != gen:
        memo = {"meta": None, "healed": set(), "nonempty": set(), "gen": gen}
        _PROBE_MEMO[key] = memo
    return memo


def invalidate_probe_memo(index_dir: str) -> None:
    """Drop every session's memo of this store — called at the ENTRY of
    any op that can rewrite/shrink its directories (maintenance, purge,
    revise, absorb) or change its meta (advisory backfill)."""
    tag = index_dir.rstrip("/")
    for k in [k for k in _PROBE_MEMO if k[1] == tag]:
        del _PROBE_MEMO[k]


def recover_dirs(spark, index_dir: str, dirs, memoize: bool = True) -> None:
    """Heal crashed compactions on the given directories, skipping ones
    the probe memo already cleared this session (see the memo contract)."""
    healed = _memo_for(spark, index_dir)["healed"] if memoize else set()
    for d in dirs:
        if d not in healed:
            recover_dir_compaction(spark, d)
            healed.add(d)


def start_stream(
    process, df: DataFrame, checkpoint_dir: str, available_now: bool = True
):
    """Run ``process(batch_df, batch_id)`` over the streaming frame ``df``
    as a ``foreachBatch`` query checkpointed at ``checkpoint_dir``;
    ``available_now`` drains what is available and stops. Returns the
    started ``StreamingQuery``."""
    writer = df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
