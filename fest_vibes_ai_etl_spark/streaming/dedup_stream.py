"""One batch lifecycle for the incremental-dedup streams (exact, span, near).

New documents are deduped against EVERYTHING ever ingested — the shape
``dropDuplicatesWithinWatermark`` can't express. ``foreachBatch`` makes
the corpus itself the state: each micro-batch fingerprints its rows,
probes history, and appends only survivors. A replayed batch finds its
own rows byte-identical in history and appends nothing, so the streams
are replay-convergent with no transactional sink: the corpus append is
the one AUTHORITATIVE write.

:class:`DedupStream` runs that lifecycle once for every family; a family
(:class:`DedupFamily`) supplies only what differs — its batch
``signatures``, its similarity sidecar and the ``sidecar_rows`` it
derives, and its ``victims`` rule. The exact stream is the family with
no similarity sidecar, deduping by fingerprint alone.

Sidecars: every family keeps ``<corpus>_exactidx`` — (id, fp,
fpk = xxhash64(fp)) rows banded on ``fpk`` (the exact family stores the
fp-only variant, under a distinct ``schema_tag``) — so the "was this
byte-identical text already stored?" guard reads ONLY the batch's own
fpk bands instead of the corpus fp column (linear per batch, quadratic
over a backfill). The anti-join still compares the full md5 string, so
an fpk collision costs extra rows read, never a wrong drop. The span and
near families add a similarity sidecar probed the same way. Each sidecar
persists its layout (``_meta.json``, see ``banded_index``); a restart
whose key derivation contradicts it is rebuilt from the corpus, never
probed across.

Per batch:

1. once per stream, heal a crashed compaction of the corpus and of the
   tombstone set; read the tombstones;
2. fingerprint the batch and burn tombstoned ids and fingerprints;
3. read history — only ``PATH_NOT_FOUND`` is a first batch (an older
   version's purge-swap leftover is refused there);
4. an absent corpus invalidates every sidecar (every time it is
   observed); otherwise settle the sidecars once per stream;
5. a surviving in-flight marker selects the heal path;
6. keep the min-id survivor per fingerprint, then run the exact guard
   (steady state: one fused touched-bands collect for all sidecars;
   heal: the corpus fp anti-join) and heal ``_exactidx``;
7. drop within-batch victims, then probe the similarity sidecar;
8. rebuild the survivors from one evaluation, then mark in-flight →
   corpus append → fused sidecar append → clear in-flight;
9. unpersist, and every ``maintain_every`` batches compact the corpus
   and every sidecar band over ``maintain_max_files`` files, size-tiered
   (the corpus's bounded census), folding tombstoned rows out of the
   bands.

Physical erasure is :meth:`DedupStream.purge`, an operator op run
between batches.

Crash consistency: the in-flight marker brackets the corpus append and
the sidecar appends, corpus FIRST. A crash in the window can only leave
the sidecars MISSING rows for stored docs — never phantom rows for
unstored docs, which would delete fresh data on replay. The replayed
batch sees the marker, takes the authoritative corpus fp scan once, and
re-appends what is missing.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import is_path_not_found
from .banded_index import (
    BandedFingerprintIndex,
    BandedIndexLayoutError,
    append_many,
    combined_touched_bands,
)
from .state_store import (
    _fs_for,
    compact_small_files,
    has_data_files,
    recover_dir_compaction,
)
from .tombstones import (
    NULL_TEXT_SENTINEL,
    read_tombstones,
    refuse_swap_leftover,
    tombstones_path,
)
from .writer_lease import GEN_DIRNAME, LEASE_DIRNAME


def fingerprint(text_col: str = "text"):
    # null text must still produce a JOINABLE key: md5(NULL) is NULL, and
    # null keys match nothing in the semi/anti joins — a null-text row
    # would be re-appended by every replay (history anti-join can't see
    # it). The sentinel is not 32 hex chars, so it cannot collide with a
    # real fingerprint.
    return F.coalesce(F.md5(F.col(text_col).cast("binary")), F.lit(NULL_TEXT_SENTINEL))


def exact_index_path(corpus_dir: str) -> str:
    """The exact-fingerprint sidecar every dedup family keeps."""
    return corpus_dir.rstrip("/") + "_exactidx"


def _fpk(col: str = "fp"):
    return F.xxhash64(F.col(col)).alias("fpk")


def _exact_pairs(df: DataFrame, id_col: str | None) -> DataFrame:
    """(id, fp, fpk) rows for the exact sidecar — (fp, fpk) when
    ``id_col`` is None (the exact family). The fp is coalesced to the
    null-text sentinel so legacy corpora (fp=NULL rows) stay joinable."""
    ids = [F.col(id_col).alias("id")] if id_col else []
    return df.select(
        *ids, F.coalesce("fp", F.lit(NULL_TEXT_SENTINEL)).alias("fp")
    ).withColumn("fpk", F.xxhash64(F.col("fp")))


def _heal_exact_index(spark, exact_index, repl_pairs: DataFrame) -> None:
    """Post-crash heal of an ``_exactidx`` sidecar: re-append replayed
    rows' fingerprints the crashed attempt never got to write.
    ``repl_pairs`` carries the sidecar's full schema (..., fp, fpk); the
    anti-join keys on every non-fpk column, so an fpk collision can't
    mask a genuinely-missing row."""
    keys = [c for c in repl_pairs.columns if c != "fpk"]
    ebands = exact_index.touched_bands(repl_pairs.select("fpk"))
    erows = exact_index.read_bands(spark, ebands) if ebands else None
    missing = (
        repl_pairs.join(erows, keys, "left_anti")
        if erows is not None
        else (repl_pairs if ebands else None)
    )
    if missing is not None and not missing.isEmpty():
        exact_index.append(missing)


def _settle_indexes(spark, idx_builders, idx_settled) -> None:
    """One-time (per stream) index reconciliation: validate each index's
    persisted layout, invalidating + rebuilding from the corpus on a
    mismatch (the corpus is authoritative; probing across a layout
    mismatch silently admits duplicates), and migration-building any
    index that doesn't exist yet."""
    if idx_settled:
        return
    for idx, build_pairs in idx_builders:
        try:
            present = idx.exists(spark)
        except BandedIndexLayoutError:
            idx.invalidate(spark)
            present = False
        if not present:
            idx.build_from(build_pairs())
    idx_settled.append(True)


# Above this many input rows, the single-evaluation rebuild falls back
# to re-evaluating the dedup lineage per write (the pre-round-11 shape:
# slower, never wrong). 5M longs is ~250 MB of collected Row traffic —
# comfortably under the default 1g spark.driver.maxResultSize and the
# broadcast limit; a bulk backfill delivered as ONE availableNow
# micro-batch can be arbitrarily larger, and must not wedge the stream
# on a driver OOM just to save a second evaluation.
_SINGLE_EVAL_MAX_IDS = 5_000_000


def rebuild_from_survivor_ids(
    batch_df: DataFrame, cached: DataFrame, fresh: DataFrame, id_col: str
) -> DataFrame:
    """ONE evaluation of a dedup stream's expensive lineage. ``fresh`` is
    ``cached`` narrowed by a chain of semi/anti joins (pure row filters —
    never column transforms), and it used to be evaluated twice per
    batch: once under the corpus write, once re-evaluated under the fused
    index append. Instead, one job collects the SURVIVOR IDS and the
    returned frame rebuilds ``fresh`` as the persisted ``cached``
    semi-joined to the broadcast id list — a cache read plus a broadcast
    filter for both downstream writes, no external state in the plan.
    Exact because ids are unique post ``dropDuplicates([id_col])``.

    The collect is batch-bounded, but a micro-batch is NOT always small
    (``trigger(availableNow)`` with no rate limit delivers a whole
    backfill as one batch), so batches above ``_SINGLE_EVAL_MAX_IDS``
    input rows fall back to returning ``fresh`` unchanged — the double
    evaluation, unbounded-safe. The gate reads ``batch_df``'s row count
    (a plain source-scan count, no dedup lineage; parquet batches answer
    it from footers).

    persist() of the post-join frame itself is NOT an option at this
    seam: the round-7 cache-substitution hazard (see the note at the
    verify gate in incremental_near_dedup.py)."""
    from pyspark.sql import types as T

    if batch_df.count() > _SINGLE_EVAL_MAX_IDS:
        return fresh
    spark = cached.sparkSession
    survivor_ids = [r[0] for r in fresh.select(id_col).collect()]
    ids_df = spark.createDataFrame(
        [(i,) for i in survivor_ids],
        T.StructType([cached.schema[id_col]]),
    )
    return cached.join(F.broadcast(ids_df), id_col, "left_semi")


@dataclass(frozen=True)
class DedupFamily:
    """What one dedup family supplies to :class:`DedupStream`.

    - ``signatures(batch)``: the batch frame with ``fp`` (see
      :func:`fingerprint`) plus the family's signature columns; with a
      sidecar it is persisted for the batch and every later frame is a
      row filter of it.
    - ``id_col``: the document id, or None to dedup by ``fp`` alone
      (the fp-only exact sidecar; no id burn, no min-id survivor).
    - ``sidecar``: ``(path, key_col, schema_tag)`` of the similarity
      sidecar, or None.
    - ``sidecar_rows(frame)``: the sidecar's ``(id, key, ...)`` rows for
      the docs of ``frame`` (the signatures frame or the stored corpus).
    - ``victims(live, target, fresh, history)``: ids of ``fresh`` to
      drop, given its sidecar rows ``live`` and the rows it is compared
      against. ``history`` is None for the within-batch pass (``target``
      is ``live``; the lowest id of each pair wins) and the stored
      corpus for the history probe. Returning None drops nothing.
    """

    signatures: Callable[[DataFrame], DataFrame]
    id_col: str | None = None
    sidecar: tuple[str, str, str] | None = None
    sidecar_rows: Callable[[DataFrame], DataFrame] | None = None
    victims: Callable[..., DataFrame | None] | None = None


class DedupStream:
    """The ``foreachBatch`` processor shared by the dedup families: call
    it with ``(batch_df, batch_id)``. ``n_bands=None`` adopts an existing
    sidecar's persisted layout, or auto-sizes a fresh one from its first
    write; ``fs_options`` passes through to every sidecar's direct-append
    writer (pyarrow S3FileSystem options, see ``banded_index``)."""

    def __init__(
        self,
        corpus_dir: str,
        family: DedupFamily,
        n_bands: int | None = None,
        maintain_every: int | None = 16,
        maintain_max_files: int = 8,
        fs_options: dict | None = None,
    ):
        self.corpus_dir = corpus_dir
        self.family = family
        self.id_col = family.id_col
        self.maintain_every = maintain_every
        self.maintain_max_files = maintain_max_files
        self.exact_index = BandedFingerprintIndex(
            exact_index_path(corpus_dir),
            key_col="fpk",
            n_bands=n_bands,
            # the fp-only layout gets a DISTINCT tag, so pointing another
            # family at this corpus rebuilds instead of appending a
            # second schema into the index
            schema_tag="exact:md5-xxh64" if self.id_col else "exact:md5-xxh64:fp-only",
            fs_options=fs_options,
        )
        self.sidecar = None
        if family.sidecar is not None:
            path, key_col, tag = family.sidecar
            self.sidecar = BandedFingerprintIndex(
                path, key_col=key_col, n_bands=n_bands, schema_tag=tag,
                fs_options=fs_options,
            )
        self.sidecars = [i for i in (self.sidecar, self.exact_index) if i is not None]
        # one marker brackets every sidecar append
        self.marker = self.sidecars[0]
        # burned columns: erased content (or a row reusing its id) can
        # never re-enter the corpus
        self.burn_cols = [self.id_col, "fp"] if self.id_col else ["fp"]
        self._idx_settled: list[bool] = []  # non-empty: layouts validated
        self._opened = False  # open-time heal done
        self._n_done = 0  # completed batches, drives maintenance

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not self._opened:
            # a crashed census, purge or revoke leaves a compaction
            # journal: heal it before anything reads the corpus or the set
            for d in (self.corpus_dir, tombstones_path(self.corpus_dir)):
                recover_dir_compaction(spark, d)
            self._opened = True
        tomb = read_tombstones(spark, self.corpus_dir)
        docs = batch_df.dropDuplicates([self.id_col]) if self.id_col else batch_df
        cached = self.family.signatures(docs)
        if self.sidecar is not None:
            # keep a handle to the persisted frame itself: unpersist()
            # requires the SAME plan (uncacheQuery is sameResult-based),
            # and `fresh` is reassigned through joins — unpersisting a
            # derived frame would leak one cache entry per micro-batch
            cached = cached.persist()
        try:
            self._dedup_and_commit(spark, batch_df, cached, tomb)
        finally:
            if self.sidecar is not None:
                cached.unpersist()
        self._n_done += 1
        if self.maintain_every and self._n_done % self.maintain_every == 0:
            self._maintain(spark, tomb)

    def _dedup_and_commit(self, spark, batch_df, cached, tomb) -> None:
        fresh = cached
        if tomb is not None:
            for c in self.burn_cols:
                fresh = fresh.join(tomb.select(c), c, "left_anti")
        hist = self._read_history(spark)
        need_heal = self._settle(spark, hist)
        fresh = self._survivors(fresh)
        fresh, replayed, bands = self._exact_guard(
            spark, hist, need_heal, cached, fresh
        )
        if self.sidecar is not None:
            live = self.family.sidecar_rows(fresh)
            fresh = self._drop(fresh, self.family.victims(live, live, fresh, None))
            if hist is not None:
                fresh = self._probe_history(
                    spark, hist, tomb, fresh, replayed, bands
                )
            # ONE evaluation of the dedup lineage (every step above is a
            # semi/anti row filter of the persisted `cached`, so the
            # rebuild is exact); size-gated, see rebuild_from_survivor_ids
            fresh = rebuild_from_survivor_ids(batch_df, cached, fresh, self.id_col)
        # Without a sidecar nothing is persisted and the two writes below
        # re-evaluate `fresh`. That is safe: dropDuplicates may pick a
        # different within-batch survivor on re-run, but the fp-only
        # sidecar stores only (fp, fpk), identical across survivors.
        self.marker.mark_inflight(spark)
        fresh.write.mode("append").parquet(self.corpus_dir)
        # sidecar appends AFTER the corpus commit (crash ⇒ missing index
        # rows, healed on replay — never phantom rows), FUSED into one
        # Spark job; the write reports each sidecar's band set, feeding
        # maintain()'s batch-proportional detection exactly
        specs = [(self.exact_index, _exact_pairs(fresh, self.id_col))]
        if self.sidecar is not None:
            specs.append((self.sidecar, self.family.sidecar_rows(fresh)))
        append_many(specs)
        self.marker.clear_inflight(spark)

    def _read_history(self, spark) -> DataFrame | None:
        try:
            return spark.read.parquet(self.corpus_dir)
        except AnalysisException as exc:
            # ONLY PATH_NOT_FOUND is a legitimate first batch. Anything
            # else (an exists-but-unreadable corpus raises e.g.
            # UNABLE_TO_INFER_SCHEMA, corrupt files, permissions) must
            # propagate — treating it as "first batch" would re-append
            # every row of the batch as if never seen: silent duplication,
            # the exact failure this operator exists to prevent. A corpus
            # dir holding only the writer lease and the store generation
            # (a fenced delete before the first batch) has no data yet.
            if not is_path_not_found(exc):
                _, fs, jp = _fs_for(spark, self.corpus_dir)
                names = {st.getPath().getName() for st in fs.listStatus(jp)}
                if not names or not names <= {LEASE_DIRNAME, GEN_DIRNAME}:
                    raise
            # before any sidecar is invalidated as describing a gone corpus
            refuse_swap_leftover(
                spark, self.corpus_dir, "_prepurge", "_purgetmp", "purge"
            )
            return None

    def _settle(self, spark, hist) -> bool:
        """Reconcile the sidecars with the corpus; True when a prior
        attempt died inside the corpus→sidecars window."""
        if hist is None:
            # The corpus is ABSENT — first batch, or deleted out from
            # under a RUNNING stream. Either way surviving sidecars
            # describe a gone corpus: probing them would silently drop
            # fresh docs that matched old, no-longer-stored rows (never
            # stored anywhere), so they must die EVERY time absence is
            # observed, not once per stream run — the check is a handful
            # of filesystem stats, and this batch's own appends recreate
            # corpus and sidecars in sync.
            for idx in self.sidecars:
                idx.invalidate(spark)
            if not self._idx_settled:
                self._idx_settled.append(True)
            return False
        _settle_indexes(spark, self.sidecar_builders(hist), self._idx_settled)
        # only a surviving marker makes the heal path worth its cost
        # (corpus fp scan + anti-join sorts)
        return self.marker.was_inflight(spark)

    def sidecar_builders(self, hist: DataFrame):
        """``(sidecar, rows thunk)`` pairs deriving every sidecar from the
        stored corpus ``hist`` — the migration build."""
        builders = [(self.exact_index, lambda: _exact_pairs(hist, self.id_col))]
        if self.sidecar is not None:
            builders.append((self.sidecar, lambda: self.family.sidecar_rows(hist)))
        return builders

    def _survivors(self, fresh: DataFrame) -> DataFrame:
        if not self.id_col:
            return fresh.dropDuplicates(["fp"])
        # deterministic survivor — min id per fingerprint, consistent with
        # the lowest-id-wins victim rules — or two runs over identical
        # input could persist different corpus contents
        keep = fresh.groupBy("fp").agg(F.min(F.col(self.id_col)).alias(self.id_col))
        return fresh.join(keep, ["fp", self.id_col], "left_semi")

    def _exact_guard(self, spark, hist, need_heal, cached, fresh):
        """Drop rows whose bytes are already stored. Returns ``(fresh,
        replayed, sidecar_bands)``: ``replayed`` (heal path only) are the
        batch rows already stored under the same id and bytes;
        ``sidecar_bands`` (steady state only) the similarity sidecar's
        touched bands."""
        if hist is None:
            return fresh, None, None
        if not need_heal:
            # ONE driver collect names every sidecar's touched bands (each
            # collect is a whole job submission). The similarity keys come
            # from `cached` (all batch docs, pre-filter): a superset of the
            # probe's keys, which only reads a few extra band directories
            specs = [(self.exact_index, fresh.select(_fpk()))]
            if self.sidecar is not None:
                specs.append((self.sidecar, self.family.sidecar_rows(cached)))
            bands = combined_touched_bands(spark, specs)
            erows = (
                self.exact_index.read_bands(spark, bands[0]) if bands[0] else None
            )
            if erows is not None:
                fresh = fresh.join(erows.select("fp"), "fp", "left_anti")
            return fresh, None, bands[1] if self.sidecar is not None else None
        # post-crash heal: the corpus fp column is the authority (the
        # sidecars may be missing rows). TRUE replays (same id AND bytes
        # already stored) may lack rows in EVERY sidecar — capture them
        # before the anti-join drops them
        ids = [self.id_col] if self.id_col else []
        hkeys = hist.select(
            F.coalesce("fp", F.lit(NULL_TEXT_SENTINEL)).alias("fp"), *ids
        )
        replayed = fresh.join(hkeys, ["fp", *ids], "left_semi")
        fresh = fresh.join(hkeys.select("fp"), "fp", "left_anti")
        _heal_exact_index(spark, self.exact_index, _exact_pairs(replayed, self.id_col))
        return fresh, replayed, None

    def _probe_history(self, spark, hist, tomb, fresh, replayed, bands):
        idx = self.sidecar
        live = self.family.sidecar_rows(fresh)
        cols = live.columns
        heal = self.family.sidecar_rows(replayed) if replayed is not None else None
        if bands is None:
            # post-crash heal (rare): the probe must also cover the
            # replayed rows' keys
            keys = live.select(idx.key_col)
            if heal is not None:
                keys = keys.union(heal.select(idx.key_col))
            bands = idx.touched_bands(keys)
        idx_rows = idx.read_bands(spark, bands) if bands else None
        if idx_rows is not None and tomb is not None:
            # erased docs stop generating candidates NOW — identical
            # behavior before and after the physical purge (stale sidecar
            # rows are folded out by maintenance, hidden here meanwhile)
            idx_rows = idx_rows.join(
                tomb.select(F.col(self.id_col).alias("id")), "id", "left_anti"
            )
        missing = None
        if heal is not None:
            if idx_rows is not None:
                missing = heal.join(idx_rows, cols, "left_anti")
            elif bands:
                # none of the touched bands exist yet: every replayed
                # row's sidecar rows are missing by definition
                missing = heal
        # the target must INCLUDE the heal rows: a replayed doc IS stored
        # history, and its rows are exactly what the sidecar is missing —
        # probing the sidecar alone would let a batch-mate that matched
        # it (dropped within-batch by the crashed attempt, so no longer
        # paired in-batch on replay) slip past. `missing` is disjoint
        # from idx_rows by construction, so the union double-counts none.
        target = idx_rows.select(*cols) if idx_rows is not None else None
        if missing is not None:
            target = missing if target is None else target.union(missing)
        if target is not None:
            fresh = self._drop(fresh, self.family.victims(live, target, fresh, hist))
        if missing is not None and not missing.isEmpty():
            idx.append(missing)
        return fresh

    def _drop(self, fresh: DataFrame, victims: DataFrame | None) -> DataFrame:
        if victims is None:
            return fresh
        return fresh.join(victims, self.id_col, "left_anti")

    def _sidecar_exclude(self, tomb: DataFrame):
        """The tombstone set keyed as the sidecars key their rows: by
        ``id``, or by ``fp`` in the fp-only exact sidecar."""
        key = "id" if self.id_col else "fp"
        return tomb.select(F.col(self.id_col or "fp").alias(key)), [key]

    def _maintain(self, spark, tomb) -> None:
        # a tick that dies leaves a journal: the next batch heals it
        self._opened = False
        # the corpus's bounded census keeps its tombstoned rows: erasing
        # them is the purge's job, so a revoke before it finds them
        compact_small_files(spark, self.corpus_dir, self.maintain_max_files)
        ex, cols = self._sidecar_exclude(tomb) if tomb is not None else (None, None)
        for idx in self.sidecars:
            idx.maintain(
                spark, max_files_per_band=self.maintain_max_files,
                exclude=ex, exclude_cols=cols,
            )

    def purge(self, spark, clear: bool = False) -> int:
        """Physically erase the tombstoned docs; returns the corpus rows
        removed. Three steps under the writer lease on the corpus, each
        idempotent, so re-running after a crash converges:

        1. the corpus is rewritten without the tombstoned ids (the
           compactor's erase form);
        2. every sidecar is folded the same way
           (``BandedFingerprintIndex.purge``);
        3. with ``clear=True``, the tombstone set is dropped — only now,
           or a stale ``_exactidx`` row would drop re-sent content
           forever.

        Full erasure leaves a readable-empty corpus. An operator op (an
        erasure SLA), not a per-batch cost: run it with the stream
        stopped or between batches (single-writer)."""
        from .writer_lease import writer_lease

        with writer_lease(spark, self.corpus_dir, "purge"):
            self._opened = False  # as for _maintain
            tomb = read_tombstones(spark, self.corpus_dir)
            if tomb is None:
                return 0
            # the set names its own id column (the fp-only family has none)
            idc = next(c for c in tomb.columns if c != "fp")
            doomed = tomb.select(idc)
            removed = 0
            recover_dir_compaction(spark, self.corpus_dir)
            if has_data_files(spark, self.corpus_dir):
                corpus = spark.read.parquet(self.corpus_dir)
                removed = corpus.join(doomed, idc, "left_semi").count()
            if removed:
                compact_small_files(
                    spark, self.corpus_dir, erase=True,
                    exclude=doomed, exclude_cols=[idc],
                )
            ex, cols = self._sidecar_exclude(tomb)
            for idx in self.sidecars:
                idx.purge(spark, exclude=ex, exclude_cols=cols)
            if clear:
                p = spark._jvm.org.apache.hadoop.fs.Path(
                    tombstones_path(self.corpus_dir)
                )
                p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)
            return removed
