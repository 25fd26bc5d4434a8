"""Incremental SUBSTRING-level dedup against everything ever ingested.

The winnowing upgrade of ``incremental_near_dedup``: new documents are
dropped not only when byte-identical to history but when they share a
duplicated PASSAGE (≥ ``min_shared`` winnowed fingerprints ⇒ a common
substring of roughly ≥ w + k − 1 characters) with ANY stored document —
the cross-batch version of ``dedup.duplicate_span_pairs``, i.e. the
streaming form of Lee-et-al-2022-style substring dedup.

State = the corpus itself, the family's replay-convergence design: each
stored row carries its exact fingerprint (``fp``, md5) and its winnowed
fingerprint set (``wfps`` array<long>, expected density 2/(w+1) of the
gram count). A replayed batch finds its own rows byte-identical in
history (fp anti-join) and appends nothing — convergence does NOT depend
on the span rule, so even fingerprint-poor short docs can't duplicate on
replay.

History probe (the scale seam): the stream maintains TWO
band-partitioned sidecars (see ``banded_index``):

- ``<corpus>_fpidx`` — the pre-exploded (id, fp) winnow pairs. A batch
  can only share a fingerprint that the batch itself carries, so the
  span probe reads ONLY the band directories of the batch's own
  fingerprints — partition pruning keeps every other band's files
  closed, and the per-batch explode of the whole corpus is gone entirely
  (the index is exploded once, at append time).
- ``<corpus>_exactidx`` — (id, fp, fpk = xxhash64(fp)) rows banded on
  ``fpk``, serving the EXACT-dup replay guard. Pre-round-8 this guard
  read the corpus's whole fp column every micro-batch — thin, but linear
  per batch and quadratic over a backfill (~16 GB re-read per
  micro-batch forever at 10⁹ docs). Bucketed, the guard reads only the
  batch's own fpk bands; the anti-join still compares the full md5
  string, so an fpk band collision costs extra rows read, never a wrong
  drop.

Both sidecars persist their layout (``_meta.json``); a restart whose
key-derivation parameters (key_col/schema_tag) contradict the stored
layout is detected and the stream invalidates + rebuilds from the corpus
instead of probing a wrong subset (the stored band count itself always
wins — physical sizing, grown by maintenance, never a rebuild trigger).
``tools/probe_scaling.py`` records the probe's walls at growing
accumulated history.

Crash consistency: one in-flight marker brackets the corpus append and
BOTH index appends (corpus first, indexes second), so a crash in the
window can only leave the indexes MISSING rows for stored docs — never
phantom index rows for unstored docs (which would delete fresh data on
replay). A surviving marker makes the replayed batch fall back to the
authoritative corpus fp scan for the exact guard (once, post-crash) and
heal both indexes: rows found byte-identical in history get their
missing pairs re-appended, pruned to the batch's own bands.

Maintenance: every ``maintain_every`` batches the stream compacts bands
that accumulated more than ``maintain_max_files`` files (per-band — an
untouched band's files are never rewritten), bounding the probe's
file-open cost over a long run.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import winnow_fingerprints
from .tombstones import NULL_TEXT_SENTINEL
from ._exact_guard import (
    _exact_pairs,
    _fpk,
    _heal_exact_index,
    _settle_indexes,
    exact_index_path,
)
from .banded_index import (
    BandedFingerprintIndex,
    append_many,
    combined_touched_bands,
)

__all__ = [
    "span_index_path",
    "exact_index_path",
    "make_span_dedup_processor",
    "start_incremental_span_dedup",
]


def span_index_path(corpus_dir: str) -> str:
    return corpus_dir.rstrip("/") + "_fpidx"


def _span_victims(
    batch_fps: DataFrame,
    other_fps: DataFrame,
    id_col: str,
    min_shared: int,
    self_pairs_ordered: bool,
) -> DataFrame:
    """Batch ids sharing ≥ min_shared fingerprints with the other side.
    ``self_pairs_ordered=True`` restricts to a.id > b.id (within-batch:
    lowest id of each pair wins, matching the near-dup family's rule)."""
    a = batch_fps.select(F.col("id").alias("a_id"), "fp")
    b = other_fps.select(F.col("id").alias("b_id"), "fp")
    cond = F.col("a_id") > F.col("b_id") if self_pairs_ordered else F.lit(True)
    return (
        a.join(b, "fp")
        .filter(cond)
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("a_id").alias(id_col))
        .distinct()
    )


def make_span_dedup_processor(
    corpus_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 15,
    min_shared: int = 3,
    n_bands: int | None = None,
    max_doc_chars: int | None = None,
    maintain_every: int | None = 16,
    maintain_max_files: int = 8,
    fs_options: dict | None = None,
):
    """The ``foreachBatch`` processor behind
    :func:`start_incremental_span_dedup`, exposed so tests and batch
    backfills can drive micro-batches directly (plain DataFrames + batch
    ids) without a streaming query. ``fs_options`` passes through to
    both sidecars' direct-append writers (pyarrow S3FileSystem options:
    endpoint_override + credentials for S3-compatible stores — see
    ``banded_index``)."""
    fp_index = BandedFingerprintIndex(
        span_index_path(corpus_dir),
        key_col="fp",
        n_bands=n_bands,
        schema_tag=f"winnow:k={k},w={w}",
        fs_options=fs_options,
    )
    exact_index = BandedFingerprintIndex(
        exact_index_path(corpus_dir),
        key_col="fpk",
        n_bands=n_bands,
        schema_tag="exact:md5-xxh64",
        fs_options=fs_options,
    )
    # one-time per-stream index reconciliation flag: non-empty = both
    # indexes are validated/migrated for this stream, don't redo the
    # existence stats per batch.
    idx_settled: list[bool] = []
    n_done: list[int] = [0]  # completed batches, drives maintenance
    purge_checked: list[bool] = []  # once-per-stream purge-crash heal

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # the family's shared null-safe fingerprint: null text must still
        # produce a joinable key, or the exact-dedup survivor semi-join
        # drops the row entirely and replay re-appends it
        from .incremental_dedup import fingerprint, rebuild_from_survivor_ids
        from .tombstones import purge_recover, read_tombstones

        if not purge_checked:
            # a crashed purge swap would otherwise read as "corpus
            # deleted" and silently restart the corpus from empty
            purge_recover(spark, corpus_dir)
            purge_checked.append(True)
        tomb = read_tombstones(spark, corpus_dir)

        fresh = batch_df.dropDuplicates([id_col]).withColumn("fp", fingerprint(text_col))
        wf = winnow_fingerprints(
            fresh, id_col, text_col, k=k, w=w, max_doc_chars=max_doc_chars
        ).persist()
        wfps = wf.groupBy("id").agg(F.array_sort(F.collect_list("fp")).alias("wfps"))
        # keep a handle to the persisted frame itself: unpersist() requires
        # the SAME plan (uncacheQuery is sameResult-based), and `fresh` is
        # reassigned through joins below — unpersisting the derived frame
        # would silently leak one cache entry per micro-batch
        cached = (
            fresh.join(wfps.withColumnRenamed("id", id_col), id_col, "left")
            .withColumn("wfps", F.coalesce(F.col("wfps"), F.array().cast("array<long>")))
            .persist()
        )
        fresh = cached
        if tomb is not None:
            # burned ids AND fingerprints: erased content (or a row
            # reusing its id) can never re-enter the corpus
            fresh = fresh.join(
                tomb.select(id_col), id_col, "left_anti"
            ).join(tomb.select("fp"), "fp", "left_anti")
        try:
            hist = spark.read.parquet(corpus_dir)
        except AnalysisException as exc:
            # ONLY PATH_NOT_FOUND is a legitimate first batch; an existing-
            # but-unreadable corpus (UNABLE_TO_INFER_SCHEMA etc.) must
            # propagate or every history check is silently skipped.
            from ..errors import is_path_not_found

            if not is_path_not_found(exc):
                raise
            hist = None
        need_heal = False
        if hist is None:
            # The corpus is ABSENT — first batch, or deleted out from
            # under a RUNNING stream. Either way surviving sidecars
            # describe a gone corpus: probing them would silently drop
            # fresh docs that matched old, no-longer-stored rows (never
            # stored anywhere), so they must die EVERY time absence is
            # observed, not once per stream run — the check is a handful
            # of filesystem stats, and this batch's own appends recreate
            # corpus and indexes in sync.
            fp_index.invalidate(spark)
            exact_index.invalidate(spark)
            if not idx_settled:
                idx_settled.append(True)
        else:
            _settle_indexes(
                spark,
                (
                    (
                        fp_index,
                        lambda: hist.select(
                            F.col(id_col).alias("id"), F.explode("wfps").alias("fp")
                        ),
                    ),
                    (exact_index, lambda: _exact_pairs(hist, id_col)),
                ),
                idx_settled,
            )
            # a surviving in-flight marker means a prior attempt died
            # inside the corpus→indexes window — only then is the heal
            # path worth its cost (corpus fp scan + anti-join sorts)
            need_heal = fp_index.was_inflight(spark)
        # exact dedup: deterministic survivor (min id per fingerprint), then
        # the replay guard
        keep = fresh.groupBy("fp").agg(F.min(F.col(id_col)).alias(id_col))
        fresh = fresh.join(keep, ["fp", id_col], "left_semi")
        replayed = None
        replayed_keys = None
        fbands = None
        if hist is not None:
            if not need_heal:
                # steady state: ONE driver collect computes BOTH sidecars'
                # touched-band sets (each collect is a whole job
                # submission — two per batch was a measured slice of the
                # stream's fixed overhead). The fp set is derived from
                # wf (ALL the batch's winnow fingerprints), a superset of
                # the post-filter probe keys: supersets are always valid
                # here — a few extra band directories read, never a
                # missed one. The exact guard then reads only the batch's
                # own fpk bands; the md5 compare keeps an fpk band
                # collision from ever dropping a fresh row.
                ebands, fbands = combined_touched_bands(
                    spark,
                    [
                        (exact_index, fresh.select(_fpk())),
                        (fp_index, wf.select("fp")),
                    ],
                )
                erows = (
                    exact_index.read_bands(spark, ebands) if ebands else None
                )
                if erows is not None:
                    fresh = fresh.join(erows.select("fp"), "fp", "left_anti")
            else:
                # post-crash heal: the corpus fp column is the authority
                # (the exact index may be missing rows)
                hkeys = hist.select(
                    F.coalesce("fp", F.lit(NULL_TEXT_SENTINEL)).alias("fp"),
                    F.col(id_col),
                )
                # TRUE replays (same id AND same bytes already stored):
                # the crashed attempt's rows may be missing index pairs
                # in EITHER sidecar — capture (id, fp) before the
                # anti-join drops them
                replayed_keys = fresh.join(
                    hkeys, ["fp", id_col], "left_semi"
                ).select(F.col(id_col).alias("id"), "fp")
                replayed = replayed_keys.select("id")
                fresh = fresh.join(hkeys.select("fp"), "fp", "left_anti")
        # span dedup WITHIN the batch: lowest id of each pair wins
        live_fps = wf.join(fresh.select(F.col(id_col).alias("id")), "id", "left_semi")
        victims = _span_victims(live_fps, live_fps, id_col, min_shared, True)
        fresh = fresh.join(victims, id_col, "left_anti")
        # span dedup vs HISTORY
        if hist is not None:
            live_fps = wf.join(
                fresh.select(F.col(id_col).alias("id")), "id", "left_semi"
            )
            heal_fps = (
                wf.join(replayed, "id", "left_semi")
                if replayed is not None
                else None
            )
            if fbands is not None:
                # steady state: the fused collect above already named
                # the bands (wf superset covers live_fps)
                bands = fbands
            else:
                # post-crash heal (rare): the probe must also cover
                # the replayed rows' fingerprints
                probe_keys = live_fps.select("fp")
                if heal_fps is not None:
                    probe_keys = probe_keys.union(heal_fps.select("fp"))
                bands = fp_index.touched_bands(probe_keys)
            idx_rows = (
                fp_index.read_bands(spark, bands) if bands else None
            )
            if idx_rows is not None and tomb is not None:
                # erased docs stop generating span candidates NOW —
                # identical behavior before and after physical purge
                idx_rows = idx_rows.join(
                    tomb.select(F.col(id_col).alias("id")),
                    "id",
                    "left_anti",
                )
            missing = None
            if heal_fps is not None:
                if idx_rows is not None:
                    missing = heal_fps.join(
                        idx_rows, ["id", "fp"], "left_anti"
                    )
                elif bands:
                    # none of the touched bands exist yet: every
                    # replayed row's pairs are missing by definition
                    missing = heal_fps
            # the probe's target must INCLUDE the heal rows: a
            # replayed doc IS stored history, and its pairs are
            # exactly what the index is missing — probing the index
            # alone would let a batch-mate that shared a passage with
            # it (dropped within-batch by the crashed attempt, so no
            # longer paired in-batch on replay) slip past. `missing`
            # is disjoint from idx_rows by construction, so the union
            # can't double-count n_shared.
            target = idx_rows.select("id", "fp") if idx_rows is not None else None
            if missing is not None:
                m = missing.select("id", "fp")
                target = m if target is None else target.union(m)
            if target is not None:
                hvictims = _span_victims(
                    live_fps, target, id_col, min_shared, False
                )
                fresh = fresh.join(hvictims, id_col, "left_anti")
            if missing is not None and not missing.isEmpty():
                fp_index.append(missing)
            # heal the exact sidecar the same way: replayed rows'
            # (id, fp, fpk) may be missing after a crash
            if replayed_keys is not None:
                _heal_exact_index(
                    spark,
                    exact_index,
                    replayed_keys.withColumn("fpk", F.xxhash64(F.col("fp"))),
                )
        # ONE evaluation of the dedup lineage (exact guard, within-batch
        # span, history span probe — a measured ~1.5-2 s slice of the
        # fixed per-batch overhead when run twice); size-gated, see
        # rebuild_from_survivor_ids
        fresh = rebuild_from_survivor_ids(batch_df, cached, fresh, id_col)
        fp_index.mark_inflight(spark)
        fresh.write.mode("append").parquet(corpus_dir)
        # index appends AFTER the corpus commit (crash ⇒ missing index
        # rows, healed on replay — never phantom rows); one marker
        # brackets both appends, which run FUSED as a single Spark job
        # (two job submissions per batch was a measured ~4 s of fixed
        # overhead). The write reports each sidecar's band set, feeding
        # maintain()'s batch-proportional detection exactly.
        append_many(
            [
                (exact_index, _exact_pairs(fresh, id_col)),
                (
                    fp_index,
                    wf.join(
                        fresh.select(F.col(id_col).alias("id")),
                        "id",
                        "left_semi",
                    ),
                ),
            ]
        )
        fp_index.clear_inflight(spark)
        cached.unpersist()
        wf.unpersist()
        n_done[0] += 1
        if maintain_every and n_done[0] % maintain_every == 0:
            # fold tombstoned docs' rows out of every band this tick
            # rewrites (both sidecars key rows by "id")
            ex = (
                tomb.select(F.col(id_col).alias("id")) if tomb is not None
                else None
            )
            fp_index.maintain(
                spark, max_files_per_band=maintain_max_files,
                exclude=ex, exclude_cols=["id"],
            )
            exact_index.maintain(
                spark, max_files_per_band=maintain_max_files,
                exclude=ex, exclude_cols=["id"],
            )

    return process


def start_incremental_span_dedup(
    docs: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 15,
    min_shared: int = 3,
    available_now: bool = True,
    n_bands: int | None = None,
    max_doc_chars: int | None = None,
    maintain_every: int | None = 16,
    maintain_max_files: int = 8,
    fs_options: dict | None = None,
):
    """``docs`` is a streaming DataFrame. Appends to ``corpus_dir`` only
    rows that are neither exact duplicates nor duplicated-passage carriers
    (≥ ``min_shared`` shared winnowed fingerprints) of any previously
    stored row, carrying (fp, wfps) alongside the data.

    ``n_bands=None`` (the default) adopts an existing index's persisted
    layout, or auto-sizes a fresh one from the first write's distinct-key
    count; once an index exists its persisted band count always wins (the
    count is physical sizing that ``maintain()`` legitimately grows — see
    ``banded_index``), so an explicit value is a creation-time hint only;
    rebuilds happen only when the stored ``key_col``/``schema_tag``
    contradict this stream's key derivation (k/w here).
    ``max_doc_chars`` is the long-doc skew guard passed through to
    ``winnow_fingerprints`` (fingerprint-set invariant, so corpora built
    with and without it are interchangeable)."""
    process = make_span_dedup_processor(
        corpus_dir,
        id_col=id_col,
        text_col=text_col,
        k=k,
        w=w,
        min_shared=min_shared,
        n_bands=n_bands,
        max_doc_chars=max_doc_chars,
        maintain_every=maintain_every,
        maintain_max_files=maintain_max_files,
        fs_options=fs_options,
    )
    writer = (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
