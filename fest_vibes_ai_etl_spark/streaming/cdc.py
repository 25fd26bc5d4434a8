"""CDC apply: fold an upsert/delete change stream into a parquet table.

The reference's loader applies changes row-at-a-time through Postgres ON
CONFLICT (upserts — /root/reference/src/loader/service.py:324-422) and
bridge-table DELETE+reinsert (replace-associations —
/root/reference/src/loader/service.py:424-512). This module is that write
path as a stream: a change feed of ``(keys..., payload..., op, version)``
rows — ``op`` ∈ {'u','d'}, ``version`` monotone per key (the source's
commit LSN / op timestamp) — applied to a partitioned parquet target with
last-writer-wins semantics.

Correctness discipline:

- **Last-wins by version, not arrival**: each batch unions the touched
  target partitions with the change rows and keeps the max-version row per
  key, so out-of-order and duplicate (at-least-once) delivery converge to
  the same table. Applying the same batch twice is a byte-identical no-op.
- **Tombstones persist**: a delete writes a ``_deleted`` row instead of
  removing the key, so a late-arriving upsert with an OLDER version cannot
  resurrect it (the tombstone's version outranks it). ``cdc_view`` is the
  read surface that filters tombstones; compaction can drop tombstones
  older than the source's replay horizon.
- **Partition pruning both ways**: only partitions present in the batch
  are read and only those are dynamically overwritten (same invariant as
  merge_store: a key never changes partitions).

At scale each micro-batch costs: one shuffle of the batch (tiny) + a scan
of ONLY the touched partitions + their rewrite. The wide table never
rewrites wholesale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .state_store import start_stream

OP_COL = "op"
VERSION_COL = "version"
DELETED_COL = "_deleted"


def _fs_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def _fs_delete(spark: SparkSession, path: str) -> None:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def apply_cdc_batch(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    keys: Sequence[str],
    partition_col: str,
) -> None:
    """Apply one batch of change rows to the target (see module doc)."""
    staged = changes.withColumn(
        DELETED_COL, (F.col(OP_COL) == F.lit("d"))
    ).drop(OP_COL)

    touched = [r[0] for r in staged.select(partition_col).distinct().collect()]
    if not touched:
        return

    from pyspark.errors import AnalysisException

    try:
        target = spark.read.parquet(target_path)
        slice_ = target.filter(F.col(partition_col).isin(touched))
        union = slice_.unionByName(staged.select(*slice_.columns))
    except AnalysisException as exc:
        # ONLY PATH_NOT_FOUND is a first write; an existing-but-unreadable
        # target must propagate — merging against "nothing" would overwrite
        # the touched partitions with the batch alone (data loss)
        from ..errors import is_path_not_found

        if not is_path_not_found(exc):
            raise
        union = staged

    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.col(VERSION_COL).desc(), F.col(DELETED_COL).desc()
    )
    winner = (
        union.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    (
        winner.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target_path)
    )


def cdc_view(spark: SparkSession, target_path: str) -> DataFrame:
    """The logical table: live rows only (tombstones filtered)."""
    return spark.read.parquet(target_path).filter(~F.col(DELETED_COL)).drop(
        DELETED_COL
    )


def start_cdc_apply(
    changes: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    partition_col: str,
    available_now: bool = True,
    on_delete=None,
    on_reinsert=None,
):
    """foreachBatch job applying the change stream to the target table.

    ``on_delete`` (optional ``(spark, deleted_keys_df) -> None``) is the
    cross-store consistency hook: it receives the batch's delete keys
    whose delete actually WON last-writer-wins — read back from the
    applied table, not from the raw ops — AFTER the table apply commits,
    so the caller can tombstone the same ids in every derived index (the
    reference keeps Postgres + pgvector + the cache consistent on every
    write — /root/reference/src/loader/service.py:702-806; here the
    analogue is ``delete_from_search_index`` / ``delete_from_ivf_index``
    / ``delete_from_dedup_corpus``, see STATE.md §4). Winner-awareness
    matters because the index delete ops BURN ids: a batch carrying
    delete-then-reinsert for one key, or a stale delete outranked by an
    already-applied newer upsert, keeps the key LIVE in the table —
    reporting it would make it live-but-unsearchable. The protection is
    scoped to keys live AT APPLY TIME: a reinsert arriving in a LATER
    batch than its (correctly reported) delete is an UPDATE of a burned
    id, which the append-only index families route to the rebuild path —
    revoke promptly via ``tombstones.remove_tombstones`` (sound until the
    first maintenance fold) or pick the key up at the next index
    rebuild. Delivery is AT-LEAST-ONCE (a replayed batch re-invokes it)
    — safe against the index delete ops, which are idempotent by
    construction (tombstone appends dedup at read). The read-back is
    partition-pruned to the delete rows' partitions and semi-joined to
    the batch's keys, so its cost is touched-partition-, not
    table-, proportional.

    ``on_reinsert`` (optional ``(spark, reinserted_keys_df) -> None``)
    closes the live-but-unsearchable gap on the other side: a key whose
    delete was correctly reported in an EARLIER batch stays BURNED in
    every derived index, so a legitimate later reinsert would be live in
    the table yet permanently unindexed — with nothing detecting it. The
    hook fires AFTER the apply commits, with the batch's upsert keys
    that were tombstoned in the table pre-apply and are live post-apply
    (an actual resurrection, not a routine update). The caller routes
    them to the index-side remedy — ``tombstones.remove_tombstones``
    while still sound (before the first maintenance fold), or queue the
    key for the next index rebuild — instead of relying on operator
    vigilance. Same at-least-once / partition-pruned cost shape as
    ``on_delete``.

    Unlike ``on_delete`` (which recomputes from POST-apply state and is
    therefore replay-safe for free), the reinsert candidates only exist
    in PRE-apply state — once ``apply_cdc_batch`` commits, the key is
    live and its tombstone row is gone, so a replay that recomputes from
    the table sees nothing to resurrect. To make delivery genuinely
    at-least-once across a crash in that window, the candidate keys are
    durably JOURNALED (parquet under
    ``<checkpoint_dir>/_reinsert_journal/batch_<id>``) BEFORE the apply
    mutates the pre-state, the hook fires from the journal, and the
    journal is deleted only AFTER the hook returns. A replayed batch
    whose journal still exists re-fires from the journal instead of the
    (already-mutated) pre-state; a crash before the journal write means
    the apply has not run yet, so the replay recomputes from intact
    pre-state. A crash between hook return and journal delete re-fires
    the hook — at-least-once, safe against the idempotent index-side
    remedies."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        journal = f"{checkpoint_dir}/_reinsert_journal/batch_{batch_id}"
        resurrect_cand, uparts = None, []
        if on_reinsert is not None:
            urows = batch_df.filter(F.col(OP_COL) == F.lit("u"))
            ukeys = urows.select(*keys).distinct()
            if not ukeys.isEmpty():
                from pyspark.errors import AnalysisException

                uparts = [
                    r[0]
                    for r in urows.select(partition_col)
                    .distinct()
                    .collect()
                ]
                if _fs_exists(spark, journal + "/_SUCCESS"):
                    # crash replay: the prior attempt journaled its
                    # candidates and may have committed the apply before
                    # dying — the table's pre-state is gone; the journal
                    # is the durable record. Gated on the _SUCCESS commit
                    # marker: a dir torn mid-write means the journal never
                    # committed, so the apply (which follows it) never
                    # ran and the pre-state recompute below is sound (the
                    # overwrite clobbers the torn dir).
                    resurrect_cand = spark.read.parquet(journal)
                else:
                    try:
                        pre = (
                            spark.read.parquet(target_path)
                            .filter(F.col(partition_col).isin(uparts))
                            .filter(F.col(DELETED_COL))
                            .join(
                                F.broadcast(ukeys), list(keys), "left_semi"
                            )
                            .select(*keys)
                            .distinct()
                        )
                        if not pre.isEmpty():
                            # durable BEFORE apply: the dynamic overwrite
                            # is about to replace these partitions' files
                            pre.write.mode("overwrite").parquet(journal)
                            resurrect_cand = spark.read.parquet(journal)
                    except AnalysisException as exc:
                        from ..errors import is_path_not_found

                        # first write: no pre-state, nothing to resurrect
                        if not is_path_not_found(exc):
                            raise
        apply_cdc_batch(spark, target_path, batch_df, keys, partition_col)
        if resurrect_cand is not None:
            # live post-apply = the reinsert actually won last-writer-wins
            # (a stale upsert outranked by the tombstone must not fire);
            # pruned to the upserts' partitions (a key never moves)
            live = (
                spark.read.parquet(target_path)
                .filter(F.col(partition_col).isin(uparts))
                .filter(~F.col(DELETED_COL))
                .join(F.broadcast(resurrect_cand), list(keys), "left_semi")
                .select(*keys)
                .distinct()
            )
            if not live.isEmpty():
                on_reinsert(spark, live)
        if on_reinsert is not None:
            # only after the hook returned: a crash above re-fires from
            # the journal on replay (at-least-once)
            _fs_delete(spark, journal)
        if on_delete is not None:
            drows = batch_df.filter(F.col(OP_COL) == F.lit("d"))
            dkeys = drows.select(*keys).distinct()
            if not dkeys.isEmpty():
                # a key never changes partitions (module invariant), so
                # the winners read prunes to the delete rows' partitions
                parts = [
                    r[0]
                    for r in drows.select(partition_col).distinct().collect()
                ]
                winners = (
                    spark.read.parquet(target_path)
                    .filter(F.col(partition_col).isin(parts))
                    .filter(F.col(DELETED_COL))
                    .join(F.broadcast(dkeys), list(keys), "left_semi")
                    .select(*keys)
                    .distinct()
                )
                if not winners.isEmpty():
                    on_delete(spark, winners)

    return start_stream(process, changes, checkpoint_dir, available_now)
