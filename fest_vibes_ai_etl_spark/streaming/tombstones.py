"""Delete path for the corpus-as-state dedup families (exact / span /
near): tombstones now, physical removal at purge.

The reference keeps Postgres (and thus pgvector + the cache) consistent
on every upsert (/root/reference/src/loader/service.py:702-806); a
lakehouse corpus has no row-level delete, so erasure is two-phase:

1. **Tombstone** (:func:`delete_from_dedup_corpus`): the doomed rows'
   ``(id, fp)`` pairs are resolved from the corpus ONCE, at delete time,
   and appended to a ``<corpus>_tombstones`` sibling. From that moment
   the content is logically gone everywhere, at batch-proportional cost:

   - downstream reads go through :func:`read_dedup_corpus` (corpus
     anti-join tombstones);
   - the streams BURN tombstoned ids and fingerprints at batch entry —
     a replayed raw batch (or a near-copy with the same id/bytes) can
     never re-introduce erased content;
   - the streams' history probes exclude tombstoned ids from their
     candidate targets, so a fresh doc is no longer suppressed by
     content that was erased — and behavior is IDENTICAL before and
     after the physical purge (the invariant that makes purge timing an
     operations choice, not a correctness event);
   - sidecar maintenance folds tombstoned rows out of every band it
     rewrites (``BandedFingerprintIndex.maintain(exclude=...)``).

2. **Purge** (:func:`purge_corpus_tombstones`): rewrite the corpus
   without the tombstoned ids — staged + swapped exactly like the banded
   index's re-banding (stage fully → rename live out → rename staged in
   → delete old), healed at every stream open via :func:`purge_recover`.
   Sidecars need no rebuild: their stale rows for purged ids are hidden
   by the probes' anti-join and folded out lazily by maintenance. By
   default the tombstone set is KEPT after the purge (a suppression
   list: replaying old raw data must not resurrect erased content);
   ``clear=True`` drops it when the erasure request includes the
   fingerprints themselves.

Single-writer discipline throughout: deletes and purges run between
batches of the one stream that owns the corpus, never concurrently with
it. Tombstone appends are idempotent (rows are deduped at read), so a
re-issued delete is harmless.

The tombstone set has its OWN lifecycle (round 13): the delete ops
compact their append-per-request files past a threshold
(:func:`maintain_tombstones`, the shared journaled compactor), and
:func:`read_tombstones` broadcast-hints the set only while its on-disk
footprint is ≤ :data:`TOMBSTONE_BROADCAST_MAX_BYTES` — past that every
anti-join degrades to a shuffle join instead of growing the driver
(measured to 10⁷ ids in ``tools/tombstone_overhead.py --sweep``).
Consumers therefore join the returned frame AS IS, never re-wrapping it
in ``F.broadcast``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .state_store import literal_frame
from .writer_lease import fenced

# The dedup families' fingerprint for NULL text (incremental_dedup's
# fingerprint() coalesces md5(text) to this). ONE definition: the burn
# path compares fingerprints across modules, and silent drift in any
# copy of the literal would break the fp burn for null-text rows.
NULL_TEXT_SENTINEL = "null-text"


def tombstones_path(store_dir: str) -> str:
    return store_dir.rstrip("/") + "_tombstones"


# Past this many bytes of tombstone files the anti-joins STOP broadcasting
# the set and fall back to a shuffle join — at GDPR volume (10⁶–10⁸ erased
# ids kept as a permanent suppression list) a broadcast would outgrow the
# driver. ~8 MB of parquet'd ids ≈ 10⁶ longs; AQE may still choose a
# runtime broadcast below its own threshold, which is the right call.
TOMBSTONE_BROADCAST_MAX_BYTES = 8 << 20


def read_tombstones(
    spark: SparkSession,
    store_dir: str,
    cols: list[str] | None = None,
    heal="repair",
) -> DataFrame | None:
    """Distinct tombstone rows (projected to ``cols`` when given), or None
    when no delete was ever issued. The absent case is ONE Hadoop
    filesystem stat, not a swallowed DataFrame-resolution failure —
    resolution raises through a full analysis pass (~70 ms measured),
    which a per-probe/per-batch check must not pay for the common
    no-deletes state.

    The returned frame carries a BROADCAST hint only while the set's
    on-disk footprint is ≤ :data:`TOMBSTONE_BROADCAST_MAX_BYTES` — the
    bounded-broadcast escape: consumers join it AS IS (never re-wrap in
    ``F.broadcast``), so a set grown past driver scale automatically
    degrades to a shuffle anti-join instead of a driver OOM. The hint
    survives consumer-side ``select``/``distinct`` (plan-verified).

    ``heal="detect"`` is the read-only mode: a crashed revoke swap is
    REPORTED (typed error naming the owner op) instead of repaired —
    repairing renames directories, which only the store's single writer
    may do."""
    jvm = spark._jvm
    tdir = tombstones_path(store_dir)
    p = jvm.org.apache.hadoop.fs.Path(tdir)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    # heal a crashed revoke swap first — only its dangerous state (the
    # live dir renamed out) costs a stat here
    if fs.exists(jvm.org.apache.hadoop.fs.Path(tdir + "_unold")):
        if heal == "detect":
            from .state_store import InFlightRecoveryError

            raise InFlightRecoveryError(
                f"tombstone set at {tdir}: crashed revoke swap "
                f"({tdir}_unold present) — read-only consumers must not "
                f"repair; the owner heals it via remove_tombstones / "
                f"read_tombstones(heal='repair')."
            )
        _untomb_recover(spark, store_dir)
    if not fs.exists(p):
        return None
    # byte census from the same listing a parquet read needs anyway; a
    # crashed compaction's double-visible inputs only overestimate (safe
    # direction — it can only demote a broadcast to a shuffle join)
    nbytes = sum(
        st.getLen()
        for st in fs.listStatus(p)
        if not st.getPath().getName().startswith(("_", "."))
    )
    df = spark.read.parquet(tdir)
    if cols:
        df = df.select(*cols)
    df = df.distinct()
    if nbytes <= TOMBSTONE_BROADCAST_MAX_BYTES:
        df = F.broadcast(df)
    return df


@fenced("maintain-tombstones")
def maintain_tombstones(
    spark: SparkSession,
    store_dir: str,
    max_files: int = 8,
    target_bytes: int = 32 << 20,
) -> int:
    """Bound the tombstone set's OWN file growth: every erase request
    appends one file to ``<store>_tombstones`` forever, so without
    maintenance the per-probe read lists/footer-reads one file per
    historical request. Merges the small files through the families'
    shared journaled compactor, deduplicating rows in the rewrite (the
    read does a ``distinct()`` regardless, so a crash's double-visible
    window is semantically invisible here). Returns files merged. Called
    from every family's maintenance tick; idempotent and safe to run
    between batches (single-writer, like all maintenance)."""
    from .state_store import compact_small_files

    jvm = spark._jvm
    tdir = tombstones_path(store_dir)
    p = jvm.org.apache.hadoop.fs.Path(tdir)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return 0
    return compact_small_files(
        spark,
        tdir,
        max_files=max_files,
        target_bytes=target_bytes,
        transform=lambda df: df.distinct(),
    )


@fenced("delete")
def delete_from_dedup_corpus(
    spark: SparkSession,
    corpus_dir: str,
    ids: list,
    id_col: str = "doc_id",
    id_type: str = "bigint",
) -> int:
    """Tombstone the given document ids: resolve their ``(id, fp)`` pairs
    from the corpus NOW (one thin-column semi-join scan — the right place
    for the corpus-proportional cost, paid once per erase request, never
    per batch) and append them to the tombstone set. EVERY requested id
    is tombstoned, stored or not — a delete may race a doc still in
    flight in the stream (its batch not yet appended), and dropping the
    request would let the next batch store it anyway; an unresolved id's
    row carries ``fp = NULL`` (a null key matches nothing in the
    fingerprint burn, and the id burn needs only the id). Returns how
    many of the ids are currently stored. Rows for ids already
    tombstoned are appended again and deduped at read."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from ..errors import is_missing_or_dataless

    corpus = None
    try:
        # a delete may race the stream's very first batch: the corpus dir
        # may not exist yet, or exist dataless (a crashed first append) —
        # the ids still burn, typed by ``id_type`` (the dedup corpora
        # keep no layout meta; string-keyed callers pass "string")
        corpus = spark.read.parquet(corpus_dir)
        corpus.schema
    except AnalysisException as exc:
        if not is_missing_or_dataless(exc):
            raise
    rows: list = []
    if corpus is not None:
        id_field = corpus.schema[id_col]
        ids_df = literal_frame(spark, [(i,) for i in ids], T.StructType([id_field]))
        pairs = (
            corpus.join(F.broadcast(ids_df), id_col, "left_semi")
            .select(
                F.col(id_col),
                F.coalesce("fp", F.lit(NULL_TEXT_SENTINEL)).alias("fp"),
            )
            .distinct()
        )
        # bounded by the erase request's id count
        rows = [tuple(r) for r in pairs.collect()]
    else:
        id_field = T.StructType.fromDDL(f"{id_col} {id_type}").fields[0]
    stored_ids = {r[0] for r in rows}
    rows += [(i, None) for i in set(ids) - stored_ids]
    schema = T.StructType([id_field, T.StructField("fp", T.StringType())])
    literal_frame(spark, rows, schema).write.mode("append").parquet(
        tombstones_path(corpus_dir)
    )
    # one file per erase request forever would regrow per-batch listing
    # cost — compact past the threshold (deletes run between batches)
    maintain_tombstones(spark, corpus_dir)
    return len(stored_ids)


def _untomb_recover(spark: SparkSession, store_dir: str) -> None:
    """Heal a crashed :func:`remove_tombstones` swap (same shape as the
    purge swap: stage fully → rename live out → rename staged in →
    delete old)."""
    jvm = spark._jvm
    tdir = tombstones_path(store_dir)
    live = jvm.org.apache.hadoop.fs.Path(tdir)
    fs = live.getFileSystem(spark._jsc.hadoopConfiguration())
    old_p = jvm.org.apache.hadoop.fs.Path(tdir + "_unold")
    tmp_p = jvm.org.apache.hadoop.fs.Path(tdir + "_untmp")
    if fs.exists(old_p):
        if not fs.exists(live):
            src = tmp_p if fs.exists(tmp_p) else old_p
            if not fs.rename(src, live):
                raise RuntimeError(
                    f"tombstone-revoke recovery: rename {src} -> {tdir} failed"
                )
        if fs.exists(old_p):
            fs.delete(old_p, True)
    if fs.exists(tmp_p):
        fs.delete(tmp_p, True)


@fenced("untomb")
def remove_tombstones(
    spark: SparkSession, store_dir: str, ids: list, id_col: str
) -> int:
    """REVOKE tombstones for the given ids (the operator-error path: a
    wrong id deleted and caught immediately). Returns how many of the ids
    were tombstoned. Crash-safe via the staged swap healed by
    :func:`_untomb_recover` (also run by ``read_tombstones`` when it sees
    the crash leftover).

    CAVEAT — revocation is only a full restore while the rows are still
    physically present: maintenance FOLDS tombstoned rows out of every
    file it rewrites, so once any tick ran after the delete, a revoked id
    may be half-indexed (some posting lists folded, others not). Revoke
    before the next maintenance tick, or rebuild/re-ingest the doc. A
    delete-then-REINSERT key (new content under an old id) is an UPDATE:
    in the search/IVF families, revoke then route it through the
    versioned revise ops (``revise_search_document`` /
    ``revise_ivf_vector``) — the ``on_reinsert`` CDC hook's remedy; the
    dedup corpora have no revise by design (fingerprint burns must stay
    permanent) — see STATE.md §4."""
    jvm = spark._jvm
    tdir = tombstones_path(store_dir)
    live = jvm.org.apache.hadoop.fs.Path(tdir)
    fs = live.getFileSystem(spark._jsc.hadoopConfiguration())
    _untomb_recover(spark, store_dir)
    if not fs.exists(live):
        return 0
    from .state_store import recover_dir_compaction

    # heal a crashed maintain_tombstones merge before swap-rewriting the
    # directory (the swap would otherwise strand its journal manifest)
    recover_dir_compaction(spark, tdir)
    from pyspark.sql import types as T

    tomb = spark.read.parquet(tdir)
    ids_df = literal_frame(
        spark, [(i,) for i in ids], T.StructType([tomb.schema[id_col]])
    )
    doomed = (
        tomb.select(id_col)
        .distinct()
        .join(F.broadcast(ids_df), id_col, "left_semi")
        .count()
    )
    if doomed == 0:
        return 0
    remaining = tomb.join(F.broadcast(ids_df), id_col, "left_anti")
    if remaining.isEmpty():
        fs.delete(live, True)
        return int(doomed)
    tmp_p = jvm.org.apache.hadoop.fs.Path(tdir + "_untmp")
    old_p = jvm.org.apache.hadoop.fs.Path(tdir + "_unold")
    remaining.coalesce(1).write.mode("overwrite").parquet(tdir + "_untmp")
    if not fs.rename(live, old_p):
        raise RuntimeError(f"tombstone revoke: rename {tdir} -> _unold failed")
    if not fs.rename(tmp_p, live):
        restored = fs.rename(old_p, live)
        raise RuntimeError(
            f"tombstone revoke: rename _untmp -> {tdir} failed"
            + ("" if restored else "; ROLLBACK ALSO FAILED — tombstones "
               f"stranded at {tdir}_unold")
        )
    fs.delete(old_p, True)
    return int(doomed)


def read_dedup_corpus(
    spark: SparkSession, corpus_dir: str, id_col: str = "doc_id",
    heal="repair",
) -> DataFrame:
    """The corpus as downstream consumers must see it: stored rows minus
    tombstoned ids (exact after purge too — the anti-join is a no-op
    once the rows are physically gone). ``heal="detect"`` for read-only
    consumers (see :func:`read_tombstones`)."""
    corpus = spark.read.parquet(corpus_dir)
    tomb = read_tombstones(spark, corpus_dir, cols=[id_col], heal=heal)
    if tomb is None:
        return corpus
    # broadcast-or-shuffle is read_tombstones' call (bounded escape)
    return corpus.join(tomb, id_col, "left_anti")


def purge_recover(spark: SparkSession, corpus_dir: str) -> None:
    """Heal a crashed :func:`purge_corpus_tombstones` swap. Stage order
    (stage fully → rename live out → rename staged in → delete old)
    means: ``_prepurge`` present with the live corpus missing is a crash
    between the renames — the staged copy is COMPLETE, promote it (or
    restore the old copy if staging is also gone); live present means the
    old copy is superseded — delete it. Stream processors run this at
    open (one stat in the steady state): without it a crash inside the
    swap would read as 'corpus deleted', invalidating the sidecars and
    silently restarting the corpus from empty."""
    jvm = spark._jvm
    live = jvm.org.apache.hadoop.fs.Path(corpus_dir)
    fs = live.getFileSystem(spark._jsc.hadoopConfiguration())
    old_p = jvm.org.apache.hadoop.fs.Path(corpus_dir.rstrip("/") + "_prepurge")
    tmp_p = jvm.org.apache.hadoop.fs.Path(corpus_dir.rstrip("/") + "_purgetmp")
    if fs.exists(old_p):
        if not fs.exists(live):
            src = tmp_p if fs.exists(tmp_p) else old_p
            if not fs.rename(src, live):
                raise RuntimeError(
                    f"purge recovery: rename {src} -> {corpus_dir} failed"
                )
        if fs.exists(old_p):
            fs.delete(old_p, True)
    if fs.exists(tmp_p):
        fs.delete(tmp_p, True)  # staging alone: live untouched, drop it


@fenced("purge")
def purge_corpus_tombstones(
    spark: SparkSession,
    corpus_dir: str,
    id_col: str = "doc_id",
    clear: bool = False,
) -> int:
    """Physically rewrite the corpus without the tombstoned ids; returns
    the number of rows removed. A full-corpus rewrite by construction —
    an explicit, operator-scheduled GC op (erasure SLAs), not a per-batch
    cost. Run with the owning stream stopped (single-writer). Sidecars
    are NOT rebuilt: probes anti-join the tombstone set and maintenance
    folds stale rows lazily, so ranking/dedup behavior is unchanged by
    the purge (tested). ``clear=True`` also drops the tombstone set —
    the default keeps it as a suppression list so replayed raw data
    cannot resurrect erased content."""
    purge_recover(spark, corpus_dir)
    tomb = read_tombstones(spark, corpus_dir, cols=[id_col])
    if tomb is None:
        return 0
    jvm = spark._jvm
    live = jvm.org.apache.hadoop.fs.Path(corpus_dir)
    fs = live.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(live):
        if clear:  # forget the ids even when no corpus ever existed
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(tombstones_path(corpus_dir)), True
            )
        return 0
    corpus = spark.read.parquet(corpus_dir)
    ids = tomb
    doomed = corpus.join(ids, id_col, "left_semi").count()
    if doomed == 0:
        if clear:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(tombstones_path(corpus_dir)), True
            )
        return 0
    kept = corpus.join(ids, id_col, "left_anti")
    tmp = corpus_dir.rstrip("/") + "_purgetmp"
    old = corpus_dir.rstrip("/") + "_prepurge"
    # FULL erasure must still leave a READABLE corpus: an empty frame
    # written at its natural parallelism produces a dataless directory
    # (zero part files), which the processors deliberately treat as fatal
    # (only PATH_NOT_FOUND is a first batch) and which crashes
    # read_dedup_corpus for every downstream consumer. coalesce(1) of the
    # empty frame writes ONE zero-row, schema-bearing file — the corpus
    # survives as "exists, holds nothing", streams and readers continue.
    (kept.coalesce(1) if kept.isEmpty() else kept).write.mode(
        "overwrite"
    ).parquet(tmp)
    old_p = jvm.org.apache.hadoop.fs.Path(old)
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    if not fs.rename(live, old_p):
        raise RuntimeError(f"purge: rename {corpus_dir} -> {old} failed")
    if not fs.rename(tmp_p, live):
        restored = fs.rename(old_p, live)
        raise RuntimeError(
            f"purge: rename {tmp} -> {corpus_dir} failed"
            + (
                ""
                if restored
                else f"; ROLLBACK ALSO FAILED — corpus stranded at {old}, "
                f"restore it manually before the next batch"
            )
        )
    fs.delete(old_p, True)
    if clear:
        fs.delete(jvm.org.apache.hadoop.fs.Path(tombstones_path(corpus_dir)), True)
    return doomed
