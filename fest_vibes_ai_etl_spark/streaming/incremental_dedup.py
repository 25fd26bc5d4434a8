"""Incremental exact dedup against everything ever ingested.

The training-corpus shape `dropDuplicatesWithinWatermark` can't express:
new documents must be deduped against the FULL historical corpus, not a
time-bounded window. foreachBatch makes the corpus itself the state — each
micro-batch fingerprints its rows, anti-joins against history, and appends
only unseen documents.

Why this is replay-convergent with no transactional sink: the fingerprint
"store" IS the corpus (one atomic parquet append per batch — no second
AUTHORITATIVE write to race), so a replayed batch re-anti-joins against a
corpus that already contains its rows and appends nothing.

History probe (the scale seam): the stream maintains the family's
``<corpus>_exactidx`` sidecar (see ``banded_index``) — here (fp, fpk =
xxhash64(fp)) rows banded on ``fpk`` (no id column: the exact stream
dedups purely by fingerprint). A batch can only collide on fingerprints
the batch itself carries, so the anti-join reads ONLY the batch's own
fpk band directories instead of the whole corpus fp column — the
linear-per-batch (quadratic-over-a-backfill) read the pre-round-8 guard
paid forever. The anti-join still compares the full md5 string, so an
fpk band collision costs extra rows read, never a wrong drop. The
sidecar persists its layout (``_meta.json``); a restart whose key
derivation (key_col/schema_tag) contradicts the stored layout is rebuilt
from the corpus, never probed across (the stored band count itself
always wins — physical sizing, grown by maintenance).

Crash consistency: an in-flight marker brackets the corpus append and the
index append (corpus first). A crash in the window can only leave the
index MISSING fingerprints for stored docs — never phantom rows for
unstored docs (which would delete fresh data on replay). The replayed
batch sees the surviving marker, falls back to the authoritative corpus
fp scan once, and heals the gap. Maintenance: every ``maintain_every``
batches, bands over ``maintain_max_files`` files are compacted per-band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._exact_guard import _heal_exact_index, _settle_indexes, exact_index_path
from .banded_index import BandedFingerprintIndex
from .tombstones import NULL_TEXT_SENTINEL


def fingerprint(text_col: str = "text"):
    # null text must still produce a JOINABLE key: md5(NULL) is NULL, and
    # null keys match nothing in the semi/anti joins — a null-text row
    # would be re-appended by every replay (history anti-join can't see
    # it). The sentinel is not 32 hex chars, so it cannot collide with a
    # real fingerprint.
    return F.coalesce(F.md5(F.col(text_col).cast("binary")), F.lit(NULL_TEXT_SENTINEL))


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
    """ONE evaluation of a dedup stream's expensive lineage, shared by the
    span and near processors. ``fresh`` is ``cached`` narrowed by a chain
    of semi/anti joins (pure row filters — never column transforms), and
    it used to be evaluated twice per batch: once under the corpus write,
    once re-evaluated under the fused index append. Instead, one job
    collects the SURVIVOR IDS and the returned frame rebuilds ``fresh``
    as the persisted ``cached`` semi-joined to the broadcast id list — a
    cache read plus a broadcast filter for both downstream writes, no
    external state in the plan. Exact because ids are unique post
    ``dropDuplicates([id_col])``.

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


def make_exact_dedup_processor(
    corpus_dir: str,
    text_col: str = "text",
    n_bands: int | None = None,
    maintain_every: int | None = 16,
    maintain_max_files: int = 8,
    fs_options: dict | None = None,
):
    """The ``foreachBatch`` processor behind :func:`start_incremental_dedup`,
    exposed so tests and batch backfills can drive micro-batches directly
    (plain DataFrames + batch ids) without a streaming query — the
    processor IS the operator; the stream wrapper only schedules it.
    ``fs_options`` passes through to the sidecar's direct-append writer
    (pyarrow S3FileSystem options: endpoint_override + credentials for
    S3-compatible stores — see ``banded_index``)."""
    exact_index = BandedFingerprintIndex(
        exact_index_path(corpus_dir),
        key_col="fpk",
        n_bands=n_bands,
        # fp-only layout — DISTINCT tag from span/near's (id, fp, fpk)
        # sidecars, so pointing a different stream family at this corpus
        # rebuilds instead of appending a second schema into the index
        schema_tag="exact:md5-xxh64:fp-only",
        fs_options=fs_options,
    )
    idx_settled: list[bool] = []
    n_done: list[int] = [0]  # completed batches, drives maintenance
    purge_checked: list[bool] = []  # once-per-stream purge-crash heal

    def _pairs(df: DataFrame) -> DataFrame:
        # coalesce: pre-sentinel corpora hold fp=NULL for null text
        return df.select(
            F.coalesce("fp", F.lit(NULL_TEXT_SENTINEL)).alias("fp")
        ).withColumn("fpk", F.xxhash64(F.col("fp")))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        from ..errors import is_path_not_found

        from .tombstones import purge_recover, read_tombstones

        spark = batch_df.sparkSession
        if not purge_checked:
            # a crashed purge swap would otherwise read as "corpus
            # deleted" and silently restart the corpus from empty
            purge_recover(spark, corpus_dir)
            purge_checked.append(True)
        tomb = read_tombstones(spark, corpus_dir)
        fresh = batch_df.withColumn("fp", fingerprint(text_col)).dropDuplicates(["fp"])
        if tomb is not None:
            # burned fingerprints (this stream dedups purely by fp):
            # erased content can never re-enter the corpus
            fresh = fresh.join(tomb.select("fp"), "fp", "left_anti")
        hist = None
        try:
            hist = spark.read.parquet(corpus_dir)
            hist.schema  # force resolution
        except AnalysisException as exc:
            # ONLY PATH_NOT_FOUND is a legitimate first batch. Anything
            # else (exists-but-unreadable corpus raises e.g.
            # UNABLE_TO_INFER_SCHEMA, corrupt files, permissions) must
            # propagate — treating it as "first batch" would re-append
            # every row of the batch as if never seen: silent duplication,
            # the exact failure this operator exists to prevent.
            if not is_path_not_found(exc):
                raise
        need_heal = False
        if hist is None:
            # The corpus is ABSENT — first batch, or deleted out from
            # under a RUNNING stream. Either way a surviving sidecar
            # describes a gone corpus: probing it would silently drop
            # fresh docs whose text matched old, no-longer-stored rows
            # (they'd never be stored anywhere), so it must die EVERY
            # time absence is observed, not once per stream run — the
            # check is a handful of filesystem stats, and this batch's
            # own append recreates corpus and index in sync.
            exact_index.invalidate(spark)
            if not idx_settled:
                idx_settled.append(True)
        else:
            _settle_indexes(
                spark,
                ((exact_index, lambda: _pairs(hist)),),
                idx_settled,
            )
            need_heal = exact_index.was_inflight(spark)
        replayed = None
        if hist is not None:
            if not need_heal:
                # steady state: bucket-local replay guard — only the
                # batch's own fpk bands are read; the md5 compare keeps an
                # fpk band collision from ever dropping a fresh row
                ebands = exact_index.touched_bands(_pairs(fresh).select("fpk"))
                erows = (
                    exact_index.read_bands(spark, ebands) if ebands else None
                )
                if erows is not None:
                    fresh = fresh.join(erows.select("fp"), "fp", "left_anti")
            else:
                # post-crash heal: the corpus fp column is the authority
                # (the index may be missing rows)
                seen = hist.select(
                    F.coalesce("fp", F.lit(NULL_TEXT_SENTINEL)).alias("fp")
                )
                # fingerprints already stored may be missing from the
                # index after a crash between the corpus and index
                # appends — capture them before the anti-join
                replayed = fresh.join(seen, "fp", "left_semi").select("fp")
                fresh = fresh.join(seen, "fp", "left_anti")
        if replayed is not None:
            _heal_exact_index(
                spark,
                exact_index,
                replayed.withColumn("fpk", F.xxhash64(F.col("fp"))),
            )
        exact_index.mark_inflight(spark)
        fresh.write.mode("append").parquet(corpus_dir)
        # index append AFTER the corpus commit (crash ⇒ missing index
        # rows, healed on replay — never phantom rows). The re-evaluation
        # of `fresh` here is safe: dropDuplicates may pick a different
        # within-batch survivor on re-run, but the sidecar stores only
        # (fp, fpk), identical across survivors. The append itself
        # reports the bands it wrote, feeding maintain()'s
        # batch-proportional detection exactly.
        exact_index.append(_pairs(fresh))
        exact_index.clear_inflight(spark)
        n_done[0] += 1
        if maintain_every and n_done[0] % maintain_every == 0:
            # fold tombstoned fingerprints out of every band this tick
            # rewrites (the fp-only sidecar keys rows by "fp")
            exact_index.maintain(
                spark,
                max_files_per_band=maintain_max_files,
                exclude=tomb.select("fp").distinct() if tomb is not None else None,
                exclude_cols=["fp"],
            )

    return process


def start_incremental_dedup(
    docs: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    available_now: bool = True,
    n_bands: int | None = None,
    maintain_every: int | None = 16,
    maintain_max_files: int = 8,
    fs_options: dict | None = None,
):
    """``docs`` is a streaming DataFrame of documents. Appends only
    never-seen-before rows (exact text match) to ``corpus_dir``, which
    accumulates (original columns + ``fp``).

    ``n_bands=None`` (the default) adopts an existing index's persisted
    layout, or auto-sizes a fresh one from the first write's distinct-key
    count; once the index exists its persisted band count always wins
    (the count is physical sizing that ``maintain()`` legitimately grows
    — see ``banded_index``), so an explicit value is a creation-time
    hint only; the index is rebuilt from the corpus only when its stored
    ``key_col``/``schema_tag`` contradict this stream's (i.e. the KEYS
    were derived differently)."""
    process = make_exact_dedup_processor(
        corpus_dir,
        text_col=text_col,
        n_bands=n_bands,
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
