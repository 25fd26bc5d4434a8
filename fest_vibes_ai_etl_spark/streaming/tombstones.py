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
     merges through the journaled compactor
     (``BandedFingerprintIndex.maintain(exclude=...)``; rows in graduated
     segments wait for the purge).

2. **Purge** (``DedupStream.purge``, the one purge of every stream
   store, the search index's included): physical erasure in idempotent
   steps. The corpus, then the family's derived stores (its ``erase``
   hook), then every sidecar (``BandedFingerprintIndex.purge``), is
   rewritten without the tombstoned rows by the erase form of
   ``state_store``'s one journaled compactor; then, with ``clear=True``,
   the tombstone set is dropped. A crash anywhere heals at the next open
   and a re-run converges. By
   default the tombstone set is KEPT after the purge (a suppression
   list: replaying old raw data must not resurrect erased content);
   ``clear=True`` drops it when the erasure request includes the
   fingerprints themselves — the sidecars are folded first, so no stale
   sidecar row outlives the set and suppresses re-sent content.

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

from .. import fsio
from .state_store import (
    InFlightRecoveryError,
    compact_small_files,
    detect_dir_compaction,
    literal_frame,
    recover_dir_compaction,
)
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


def refuse_swap_leftover(
    spark: SparkSession, live: str, old: str, tmp: str, op: str
) -> None:
    """Raise when an older version's directory swap died between its
    renames: the store ``live`` reads absent while ``live + old`` holds
    it. Nothing can rebuild a corpus or a tombstone set, so the owner
    restores it by hand; called only where ``live`` was already found
    absent, so a healthy store pays nothing. A leftover beside a live
    store is inert."""
    live = live.rstrip("/")
    if fsio.exists(spark, live + old):
        raise InFlightRecoveryError(
            f"{live} is absent but {live}{old} holds it: a {op} swap of an "
            f"older version died between its renames. Restore it with "
            f"`mv {live}{old} {live}`, delete {live}{tmp} if present, and "
            f"re-run the {op}."
        )


def read_tombstones(
    spark: SparkSession, store_dir: str, cols: list[str] | None = None
) -> DataFrame | None:
    """Distinct tombstone rows (projected to ``cols`` when given), or None
    when no delete was ever issued. The absent case is a Hadoop
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

    No read needs a crash heal: the set's rewrites (compaction, revoke)
    are compactor merges, and the ``distinct()`` hides a crashed one's
    double-visible files. A crashed revoke thus reads as not yet taken
    effect — the safe side."""
    tdir = tombstones_path(store_dir)
    if not fsio.exists(spark, tdir):
        refuse_swap_leftover(spark, tdir, "_unold", "_untmp", "revoke")
        return None
    # byte census from the same listing a parquet read needs anyway; a
    # crashed compaction's double-visible inputs only overestimate (safe
    # direction — it can only demote a broadcast to a shuffle join)
    nbytes = sum(
        e.size
        for e in fsio.list_status(spark, tdir)
        if not e.name.startswith(("_", "."))
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
    between batches (single-writer, like all maintenance); an absent
    set lists empty and merges nothing."""
    return compact_small_files(
        spark,
        tombstones_path(store_dir),
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


@fenced("untomb")
def remove_tombstones(
    spark: SparkSession, store_dir: str, ids: list, id_col: str
) -> int:
    """REVOKE tombstones for the given ids (the operator-error path: a
    wrong id deleted and caught immediately). Returns how many of the ids
    were tombstoned. The rewrite is a compactor erase of the set; a crash
    leaves the revoke not yet in effect (see :func:`read_tombstones`),
    and the next compaction of the set, or a re-run, completes it.

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
    from pyspark.sql import types as T

    tomb = read_tombstones(spark, store_dir)
    if tomb is None:
        return 0
    ids_df = F.broadcast(
        literal_frame(spark, [(i,) for i in ids], T.StructType([tomb.schema[id_col]]))
    )
    doomed = tomb.select(id_col).distinct().join(ids_df, id_col, "left_semi").count()
    if doomed == 0:
        return 0
    tdir = tombstones_path(store_dir)
    if tomb.join(ids_df, id_col, "left_anti").isEmpty():
        # nothing left: an absent set reads as "no deletes" (a partial
        # delete leaves a subset of the revoked ids, re-run to finish)
        fsio.delete(spark, tdir)
    else:
        compact_small_files(
            spark, tdir, erase=True, exclude=ids_df, exclude_cols=[id_col],
            transform=lambda df: df.distinct(),
        )
    return int(doomed)


def read_dedup_corpus(
    spark: SparkSession, corpus_dir: str, id_col: str = "doc_id",
    heal="repair",
) -> DataFrame:
    """The corpus as downstream consumers must see it: stored rows minus
    tombstoned ids (exact after purge too — the anti-join is a no-op
    once the rows are physically gone). A crashed corpus compaction is
    healed first (one stat when there is none); ``heal="detect"`` is the
    read-only mode that raises on it instead."""
    if heal != "detect":
        recover_dir_compaction(spark, corpus_dir)
    elif detect_dir_compaction(spark, corpus_dir):
        raise InFlightRecoveryError(
            f"dedup corpus at {corpus_dir}: unhealed compaction journal — "
            f"read-only consumers must not repair; the owning stream heals "
            f"it at open (or read_dedup_corpus(heal='repair'))."
        )
    corpus = spark.read.parquet(corpus_dir)
    tomb = read_tombstones(spark, corpus_dir, cols=[id_col])
    if tomb is None:
        return corpus
    # broadcast-or-shuffle is read_tombstones' call (bounded escape)
    return corpus.join(tomb, id_col, "left_anti")
