"""Incremental NEAR-dup dedup against everything ever ingested.

The training-corpus upgrade of ``incremental_dedup``: new documents are
dropped not only when byte-identical to history but when their n-gram
Jaccard similarity to ANY stored document reaches the threshold — the
cross-batch version of ``dedup.minhash_lsh_exact_pairs`` (sketch selects,
true metric decides).

State = the corpus itself. Each stored row carries its MinHash signature
(``sig``, num_hashes longs) and its shingle-set signature (``sh`` sorted
hashes + ``n``), so probing history is:

  batch bands  ⋈  history bands → candidate (batch_id, hist_id) pairs
      → exact Jaccard from the two shingle arrays
      → drop batch docs with J ≥ threshold

No second state store to race with the data write, so replay is convergent
by construction: a replayed batch finds its own rows in history at J = 1
and appends nothing.

History probe (the scale seam): the stream maintains TWO
band-partitioned sidecars (see ``banded_index``):

- ``<corpus>_bandidx`` — the pre-computed (id, band, band_hash) LSH rows,
  partitioned by ``pmod(band_hash, n_buckets)``. A batch can only collide
  on band hashes the batch itself carries, so candidate generation reads
  ONLY those partitions — no per-batch re-derivation of every stored
  signature. The exact-Jaccard verify then reads (id, sh, n) from the
  corpus semi-joined by the candidate ids — and is launched only when the
  candidate join is non-empty (an explicit gate: AQE, whose
  empty-relation propagation would otherwise skip the scan, is disabled
  inside micro-batch plans).
- ``<corpus>_exactidx`` — (id, fp, fpk = xxhash64(fp)) rows banded on
  ``fpk``, serving the EXACT-dup replay guard. Pre-round-8 this guard
  scanned the corpus's whole (fp, id) columns every micro-batch — the
  one linear-per-batch component left after the band index landed.
  Bucketed, it reads only the batch's own fpk bands; the anti-join still
  compares the full md5 string, so an fpk collision costs extra rows
  read, never a wrong drop.

Both sidecars persist their layout (``_meta.json``); a restart whose
key-derivation parameters (key_col/schema_tag) contradict the stored
layout is detected and the stream invalidates + rebuilds from the corpus
instead of probing a wrong subset (the stored bucket count itself always
wins — physical sizing, grown by maintenance, never a rebuild trigger).
``tools/probe_scaling.py`` records the probe's walls at growing
accumulated history.

Crash consistency mirrors the span variant: one in-flight marker
brackets the corpus append and BOTH index appends; a surviving marker
makes the replayed batch fall back to the authoritative corpus fp scan
and heal both sidecars. Maintenance likewise: every ``maintain_every``
batches, bands holding more than ``maintain_max_files`` files are
compacted per-band (untouched bands' files are never rewritten).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def near_index_path(corpus_dir: str) -> str:
    return corpus_dir.rstrip("/") + "_bandidx"


def _with_signatures(df: DataFrame, id_col: str, text_col: str,
                     k: int, num_hashes: int) -> DataFrame:
    """Attach (fp, sig, sh, n) to every row. Docs too short to shingle
    (< k tokens) carry empty sig/sh and fall back to exact-only dedup."""
    from ..operators.dedup import minhash_signatures, shingle_signature

    # the family's shared null-safe fingerprint (one sentinel convention
    # across all three incremental-dedup corpora)
    from .incremental_dedup import fingerprint

    base = df.withColumn("fp", fingerprint(text_col))
    sigs = minhash_signatures(df, id_col, text_col, k, num_hashes).withColumnRenamed(
        "id", id_col
    )
    sh = shingle_signature(df, id_col, text_col, k).withColumnRenamed("id", id_col)
    return (
        base.join(sigs, id_col, "left")
        .join(sh, id_col, "left")
        .withColumn("sig", F.coalesce("sig", F.array().cast("array<bigint>")))
        .withColumn("sh", F.coalesce("sh", F.array().cast("array<bigint>")))
        .withColumn("n", F.coalesce("n", F.lit(0)))
    )


def _band_hashes(sig_df: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    rows = num_hashes // bands
    return sig_df.filter(F.size("sig") > 0).select(
        F.col(id_col).alias("bid"),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.slice("sig", i * rows + 1, rows).cast("string"))
                    for i in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def _verified_victims(
    cand: DataFrame,
    probe: DataFrame,
    target_sh: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Probe ids among the candidate pairs whose EXACT Jaccard reaches the
    threshold (sketch selects, true metric decides)."""
    ps = probe.select(
        F.col(id_col).alias("p_id"), F.col("sh").alias("sh_p"), F.col("n").alias("n_p")
    )
    ts = target_sh.select(
        F.col(id_col).alias("t_id"), F.col("sh").alias("sh_t"), F.col("n").alias("n_t")
    )
    inter = F.size(F.array_intersect("sh_p", "sh_t"))
    return (
        cand.join(ps, "p_id")
        .join(ts, "t_id")
        .withColumn("i", inter)
        .filter(F.col("i") / (F.col("n_p") + F.col("n_t") - F.col("i")) >= threshold)
        .select(F.col("p_id").alias(id_col))
        .distinct()
    )


def _near_dup_ids(
    batch: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """ids of ``batch`` rows whose exact Jaccard vs a LOWER-id ``batch``
    row is ≥ threshold, so the lowest id of each dup group survives."""
    pb = _band_hashes(batch, id_col, num_hashes, bands)
    tb = _band_hashes(batch, id_col, num_hashes, bands)
    cond = (
        (pb["band"] == tb["band"])
        & (pb["band_hash"] == tb["band_hash"])
        & (tb["bid"] < pb["bid"])
    )
    cand = (
        pb.join(tb, cond)
        .select(pb["bid"].alias("p_id"), tb["bid"].alias("t_id"))
        .dropDuplicates(["p_id", "t_id"])
    )
    return _verified_victims(cand, batch, batch, id_col, threshold)


def make_near_dedup_processor(
    corpus_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.2,
    n_buckets: int | None = None,
    maintain_every: int | None = 16,
    maintain_max_files: int = 8,
    metrics: dict | None = None,
    fs_options: dict | None = None,
):
    """The ``foreachBatch`` processor behind
    :func:`start_incremental_near_dedup`, exposed so tests and batch
    backfills can drive micro-batches directly (plain DataFrames + batch
    ids) without a streaming query. ``fs_options`` passes through to
    both sidecars' direct-append writers (pyarrow S3FileSystem options:
    endpoint_override + credentials for S3-compatible stores — see
    ``banded_index``).

    ``metrics`` (optional, a plain dict the caller keeps) accumulates
    per-batch observability counters: ``batches`` processed,
    ``verify_launched`` (how many batches' emptiness gate actually opened
    the exact-Jaccard verify — the stream's one candidate-gated linear
    term, see SCALE.md), and ``verify_cand_pairs`` (total candidate pairs
    those verifies scored). The counts are driver-side ints; recording
    them adds one ``count()`` over the (pruned, batch-sized) candidate
    frame only on batches where the gate opened — batches that would pay
    a full verify anyway."""
    band_index = BandedFingerprintIndex(
        near_index_path(corpus_dir),
        key_col="band_hash",
        n_bands=n_buckets,
        schema_tag=f"minhash:k={k},nh={num_hashes},bands={bands}",
        fs_options=fs_options,
    )
    exact_index = BandedFingerprintIndex(
        exact_index_path(corpus_dir),
        key_col="fpk",
        n_bands=n_buckets,
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
        from .incremental_dedup import rebuild_from_survivor_ids
        from .tombstones import purge_recover, read_tombstones

        spark = batch_df.sparkSession
        if not purge_checked:
            # a crashed purge swap would otherwise read as "corpus
            # deleted" and silently restart the corpus from empty
            purge_recover(spark, corpus_dir)
            purge_checked.append(True)
        # (id, fp) tombstones — one fs stat per batch when no delete was
        # ever issued; a small broadcastable suppression set otherwise
        tomb = read_tombstones(spark, corpus_dir)
        # keep a handle to the persisted frame itself: unpersist() requires
        # the SAME plan (uncacheQuery is sameResult-based), and `fresh` is
        # reassigned through joins below — unpersisting the derived frame
        # would silently leak one cache entry per micro-batch
        cached = _with_signatures(
            batch_df.dropDuplicates([id_col]), id_col, text_col, k, num_hashes
        ).persist()
        fresh = cached
        if tomb is not None:
            # burned ids AND fingerprints: erased content (or a row
            # reusing its id) can never re-enter the corpus
            fresh = fresh.join(
                tomb.select(id_col), id_col, "left_anti"
            ).join(tomb.select("fp"), "fp", "left_anti")
        hist = None
        try:
            hist = spark.read.parquet(corpus_dir)
            hist.schema  # force resolution (replaces the count() probe)
        except AnalysisException as exc:
            # ONLY PATH_NOT_FOUND is a legitimate first batch; an existing-
            # but-unreadable corpus (UNABLE_TO_INFER_SCHEMA etc.) must
            # propagate or the history anti-join is silently skipped.
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
            band_index.invalidate(spark)
            exact_index.invalidate(spark)
            if not idx_settled:
                idx_settled.append(True)
        else:
            _settle_indexes(
                spark,
                (
                    (
                        band_index,
                        lambda: _band_hashes(hist, id_col, num_hashes, bands).select(
                            F.col("bid").alias("id"), "band", "band_hash"
                        ),
                    ),
                    (exact_index, lambda: _exact_pairs(hist, id_col)),
                ),
                idx_settled,
            )
            # a surviving in-flight marker means a prior attempt died
            # inside the corpus→indexes window — only then run the heal path
            need_heal = band_index.was_inflight(spark)
        # exact dedup (within batch, then vs history): survivor must be
        # deterministic — min(doc_id) per fingerprint, consistent with the
        # lowest-id-wins rule for near-dups — or two runs over identical
        # input could persist different corpus contents.
        keep = fresh.groupBy("fp").agg(F.min(F.col(id_col)).alias(id_col))
        fresh = fresh.join(keep, ["fp", id_col], "left_semi")
        replayed = None
        bbands = None
        if hist is not None:
            if not need_heal:
                # steady state: ONE driver collect computes BOTH sidecars'
                # touched-band sets (each collect is a whole job
                # submission — two per batch was a measured slice of the
                # stream's fixed overhead). The LSH bucket set is derived
                # from the CACHED frame (all batch docs, pre-filter), a
                # superset of the post-filter probe's buckets: supersets
                # are always valid — a few extra bucket directories read,
                # never a missed one. The exact guard then reads only the
                # batch's own fpk bands; the md5 compare keeps an fpk
                # band collision from ever dropping a fresh row.
                ebands, bbands = combined_touched_bands(
                    spark,
                    [
                        (exact_index, fresh.select(_fpk())),
                        (
                            band_index,
                            _band_hashes(cached, id_col, num_hashes, bands),
                        ),
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
                # TRUE replays (same id AND same bytes already stored) may
                # have missing index rows in EITHER sidecar after a crash
                # between corpus and index appends — capture for heal
                # before the anti-join
                replayed = fresh.join(hkeys, ["fp", id_col], "left_semi")
                fresh = fresh.join(hkeys.select("fp"), "fp", "left_anti")
        # near dedup WITHIN the batch: lowest id of each near-dup pair wins
        batch_victims = _near_dup_ids(fresh, id_col, num_hashes, bands, threshold)
        fresh = fresh.join(batch_victims, id_col, "left_anti")
        # near dedup vs HISTORY
        if hist is not None:
            pb = _band_hashes(fresh, id_col, num_hashes, bands)
            heal_rows = (
                _band_hashes(replayed, id_col, num_hashes, bands).select(
                    F.col("bid").alias("id"), "band", "band_hash"
                )
                if replayed is not None
                else None
            )
            if bbands is not None:
                # steady state: the fused collect above already named
                # the buckets (cached superset covers pb)
                buckets = bbands
            else:
                # post-crash heal (rare): the probe must also cover
                # the replayed rows' band hashes
                probe_keys = pb.select("band_hash")
                if heal_rows is not None:
                    probe_keys = probe_keys.union(
                        heal_rows.select("band_hash")
                    )
                buckets = band_index.touched_bands(probe_keys)
            idx_rows = (
                band_index.read_bands(spark, buckets) if buckets else None
            )
            if idx_rows is not None and tomb is not None:
                # erased docs stop generating candidates NOW — and the
                # probe behaves identically before and after the
                # physical purge (stale sidecar rows are folded out by
                # maintenance, hidden here meanwhile)
                idx_rows = idx_rows.join(
                    tomb.select(F.col(id_col).alias("id")),
                    "id",
                    "left_anti",
                )
            missing = None
            if heal_rows is not None:
                if idx_rows is not None:
                    missing = heal_rows.join(
                        idx_rows, ["id", "band", "band_hash"], "left_anti"
                    )
                elif buckets:
                    # none of the touched buckets exist yet: every
                    # replayed row's pairs are missing by definition
                    missing = heal_rows
            # the candidate target must INCLUDE the heal rows: a
            # replayed doc IS stored history, and its band hashes are
            # exactly what the index is missing — probing the index
            # alone would let a batch-mate near-dup of it (dropped
            # within-batch by the crashed attempt, so no longer paired
            # in-batch on replay) slip past the history check.
            cols = ["id", "band", "band_hash"]
            target = idx_rows.select(*cols) if idx_rows is not None else None
            if missing is not None:
                m = missing.select(*cols)
                target = m if target is None else target.union(m)
            if target is not None:
                # emptiness-gated verify: the exact-Jaccard verify
                # reads the corpus (id, sh, n) columns — a full
                # thin-column scan — so it's only launched when some
                # band actually collided. The gate re-evaluates the
                # (cheap, pruned) candidate join rather than persisting
                # it: persist() of a frame derived from the foreachBatch
                # input measurably CORRUPTED later batches' dedup here
                # (cache-substitution inside the micro-batch plan), so
                # no caching across this seam.
                cand = (
                    pb.join(target, ["band", "band_hash"])
                    .select(F.col("bid").alias("p_id"), F.col("id").alias("t_id"))
                    .dropDuplicates(["p_id", "t_id"])
                )
                if metrics is None:
                    gate_open = not cand.isEmpty()
                else:
                    # count() doubles as the emptiness gate when the
                    # caller wants the trigger telemetry — same pruned
                    # batch-sized frame, one job either way
                    n_cand = cand.count()
                    gate_open = n_cand > 0
                    if gate_open:
                        metrics["verify_cand_pairs"] = (
                            metrics.get("verify_cand_pairs", 0) + n_cand
                        )
                if gate_open:
                    if metrics is not None:
                        metrics["verify_launched"] = (
                            metrics.get("verify_launched", 0) + 1
                        )
                    hist_victims = _verified_victims(
                        cand, fresh, hist, id_col, threshold
                    )
                    fresh = fresh.join(hist_victims, id_col, "left_anti")
            if missing is not None and not missing.isEmpty():
                band_index.append(missing)
            # heal the exact sidecar the same way: replayed rows'
            # (id, fp, fpk) may be missing after a crash
            if replayed is not None:
                _heal_exact_index(spark, exact_index, _exact_pairs(replayed, id_col))
        # ONE evaluation of the dedup lineage (every `fresh` step above
        # is a semi/anti row filter of the persisted `cached`, so the
        # rebuild is exact); size-gated, see rebuild_from_survivor_ids
        fresh = rebuild_from_survivor_ids(batch_df, cached, fresh, id_col)
        band_index.mark_inflight(spark)
        fresh.write.mode("append").parquet(corpus_dir)
        # index appends AFTER the corpus commit (crash ⇒ missing index
        # rows, healed on replay — never phantom rows); one marker
        # brackets both appends, which run FUSED as a single Spark job
        # (two job submissions per batch was a measured slice of fixed
        # overhead). The write reports each sidecar's band set, feeding
        # maintain()'s batch-proportional detection exactly.
        append_many(
            [
                (exact_index, _exact_pairs(fresh, id_col)),
                (
                    band_index,
                    _band_hashes(fresh, id_col, num_hashes, bands).select(
                        F.col("bid").alias("id"), "band", "band_hash"
                    ),
                ),
            ]
        )
        band_index.clear_inflight(spark)
        cached.unpersist()
        n_done[0] += 1
        if metrics is not None:
            metrics["batches"] = metrics.get("batches", 0) + 1
        if maintain_every and n_done[0] % maintain_every == 0:
            # fold tombstoned docs' rows out of every band this tick
            # rewrites (both sidecars key rows by "id")
            ex = (
                tomb.select(F.col(id_col).alias("id")) if tomb is not None
                else None
            )
            band_index.maintain(
                spark, max_files_per_band=maintain_max_files,
                exclude=ex, exclude_cols=["id"],
            )
            exact_index.maintain(
                spark, max_files_per_band=maintain_max_files,
                exclude=ex, exclude_cols=["id"],
            )

    return process


def start_incremental_near_dedup(
    docs: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.2,
    available_now: bool = True,
    n_buckets: int | None = None,
    maintain_every: int | None = 16,
    maintain_max_files: int = 8,
    metrics: dict | None = None,
    fs_options: dict | None = None,
):
    """``docs`` is a streaming DataFrame. Appends to ``corpus_dir`` only rows
    that are neither exact nor near (Jaccard ≥ threshold) duplicates of any
    previously stored row, carrying (fp, sig, sh, n) alongside the data.

    ``n_buckets=None`` (the default) adopts an existing index's persisted
    layout, or auto-sizes a fresh one from the first write's distinct-key
    count; once an index exists its persisted bucket count always wins
    (the count is physical sizing that ``maintain()`` legitimately grows
    — see ``banded_index``), so an explicit value is a creation-time hint
    only; rebuilds happen only when the stored ``key_col``/``schema_tag``
    contradict this stream's key derivation (k/num_hashes/bands here).
    ``metrics`` is the observability dict documented on
    :func:`make_near_dedup_processor`."""
    process = make_near_dedup_processor(
        corpus_dir,
        id_col=id_col,
        text_col=text_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        n_buckets=n_buckets,
        maintain_every=maintain_every,
        maintain_max_files=maintain_max_files,
        metrics=metrics,
        fs_options=fs_options,
    )
    writer = (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
