"""The versioned-identity protocol: UPDATE and DELETE for the append-only
index stores.

The reference loader keeps Postgres and pgvector current by overwriting a
row on upsert and deleting it in place (``src/loader/service.py``). The
lexical search index (``streaming/incremental_search.py``) and the IVF
cell store (``operators/ivf.py``) never rewrite a stored row; they reach
the same probe results through one protocol, and this module is its only
owner:

- ``<store>_rev`` — the revision SIDECAR: the family's rows for each
  revised id under a versioned identity ``(id, rev)``. Search keeps
  ``_rev/terms`` and ``_rev/doclen``; IVF keeps its vector rows in
  ``_rev`` itself.
- ``<store>_revisions`` — the MARKERS: ``(id, rev)`` rows, max rev wins
  per id. A marked id is REVISED: every probe drops its main-store rows
  and serves its sidecar rows at the latest rev (:func:`apply_revisions`).
  An absent marker directory is the zero-added-plan fast path
  (:func:`read_revisions` → one stat → None).
- ``<store>_tombstones`` — erased ids (``streaming/tombstones.py``).
  Erasure is permanent: revise refuses a tombstoned id.

Three owner-op cores; each family's public op adds only what differs
(search tokenizes and names its ``tb=`` / ``db=`` / doclen dirs, IVF
checks the quantizer fingerprint, assigns the cell and names its
``cell_id=`` dirs):

- :func:`revise` — refuse tombstoned ids, take the next rev, and per
  sidecar dir purge whatever a dead attempt left at ``(id, new_rev)``
  before one single-file append; the marker lands LAST, so every crash
  window still serves the old rev and a re-run converges.
- :func:`absorb` — fold pending revisions into the main store: each
  target dir the family names drops every revised id's rows and unions in
  the latest-rev rows. The marker-dir drop is the COMMIT POINT; the
  sidecar drops after it. While markers exist, probes ignore every main
  row of a revised id (half-absorbed copies included), so each crash
  window is probe-equivalent and a re-run converges.
- :func:`burn` — the delete: tombstone the ids and report how many the
  family's resolved view currently stores.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import is_missing_or_dataless
from . import state_store, tombstones


def markers_dir(index_dir: str) -> str:
    return index_dir.rstrip("/") + "_revisions"


def sidecar_dir(index_dir: str, name: str | None = None) -> str:
    """The revision sidecar root, or its ``name`` subdirectory."""
    root = index_dir.rstrip("/") + "_rev"
    return f"{root}/{name}" if name else root


def _drop(spark, path: str) -> None:
    _, fs, jp = state_store._fs_for(spark, path)
    if fs.exists(jp):
        fs.delete(jp, True)


def drop_revisions(spark, index_dir: str) -> None:
    """Forget every revision: the marker dir FIRST, then the sidecar — the
    reverse order would leave marked ids with no content to serve."""
    _drop(spark, markers_dir(index_dir))
    _drop(spark, sidecar_dir(index_dir))


def read_or_empty(
    spark, path: str, schema: str | None = None
) -> DataFrame | None:
    """``path`` read as parquet or, when it is absent or holds no data
    files, an empty ``schema`` frame (None without a schema)."""
    try:
        df = spark.read.parquet(path)
        df.schema
        return df
    except AnalysisException as exc:
        if not is_missing_or_dataless(exc):
            raise
    return None if schema is None else spark.createDataFrame([], schema)


def read_revisions(spark, index_dir: str, id_col: str = "doc_id"):
    """Current revision per revised id — (id, rev = max marker), or None
    when no revise was ever issued (ONE filesystem stat, the
    read_tombstones discipline). Broadcast-hinted under the same byte
    threshold as tombstones (revised sets are edit-rate-bounded; a set
    grown past driver scale degrades to a shuffle join)."""
    rdir = markers_dir(index_dir)
    _, fs, p = state_store._fs_for(spark, rdir)
    if not fs.exists(p):
        return None
    visible = [
        st
        for st in fs.listStatus(p)
        if not st.getPath().getName().startswith(("_", "."))
    ]
    if not visible:
        return None  # dataless (a clear fold raced the dir delete)
    nbytes = sum(st.getLen() for st in visible)
    df = (
        spark.read.parquet(rdir)
        .groupBy(id_col)
        .agg(F.max("rev").alias("rev"))
    )
    if nbytes <= tombstones.TOMBSTONE_BROADCAST_MAX_BYTES:
        df = F.broadcast(df)
    return df


def apply_revisions(
    spark, index_dir: str, main: DataFrame, id_col: str, revs,
    rev_dir: str, cols: list[str], where=None, heal="repair",
) -> DataFrame:
    """Resolve revisions over a main-store read: drop every revised id's
    stale rows, union in ``rev_dir``'s rows at each id's LATEST rev,
    projected to ``cols``. ``revs`` is the resolved marker frame (None =
    no revise ever issued — zero added plan). ``where`` pushes the
    caller's pruning (query terms, doc ids) into the sidecar read. The
    sidecar is crash-HEALED first (memoized — revise and maintenance
    compact it, and a death post-rename would otherwise double-serve
    every revised row to every probe); ``heal="detect"`` raises for
    read-only consumers instead."""
    if revs is None:
        return main
    out = main.join(revs.select(id_col), id_col, "left_anti")
    if heal == "detect":
        if state_store.detect_dir_compaction(spark, rev_dir):
            raise state_store.InFlightRecoveryError(
                f"revision sidecar at {rev_dir}: unhealed compaction "
                f"journal — read-only probes must not repair (owner: "
                f"revise/maintain ops)."
            )
    else:
        state_store.recover_dirs(spark, index_dir, [rev_dir])
    side = read_or_empty(spark, rev_dir)
    if side is None:
        return out  # markers without rows: nothing newer to serve
    if where is not None:
        side = side.filter(where)
    # the semi-join on (id, rev) keeps exactly the latest revision's rows
    side = side.join(revs, [id_col, "rev"], "left_semi")
    return out.unionByName(side.select(*cols))


def latest_rows(
    spark, rev_dir: str, revs: DataFrame, id_col: str, schema: str
) -> DataFrame:
    """``rev_dir``'s rows at each id's latest rev, crash-healed first (an
    owner-side read: not memoized); empty ``schema`` rows when the
    sidecar holds none."""
    state_store.recover_dir_compaction(spark, rev_dir)
    return read_or_empty(spark, rev_dir, schema).join(
        revs, [id_col, "rev"], "left_semi"
    )


def partitions_holding(
    spark, root: str, ids: DataFrame, id_col: str, part_col: str
) -> set:
    """The ``part_col`` values of ``root``'s partitions that hold any of
    ``ids`` — one thin semi-join scan naming the dirs a rewrite must
    reach (empty when ``root`` has no data)."""
    df = read_or_empty(spark, root)
    if df is None:
        return set()
    return {
        r[0]
        for r in df.join(ids, id_col, "left_semi")
        .select(part_col)
        .distinct()
        .collect()
    }


def revise(
    spark, index_dir: str, id_col: str, id_type: str, rid,
    rows: list[tuple[DataFrame, str]],
) -> int:
    """The revise core: land ``rows`` — (id ``rid``'s new rows without a
    ``rev`` column, sidecar dir) pairs — under the next revision of
    ``rid``, then the marker; returns the new rev. An id with no prior
    entry is inserted (upsert semantics). Refuses a tombstoned id.

    Crash-safe without a journal: the marker is written LAST, so a death
    before it leaves the new rows invisible (probes still serve the old
    rev). A retry may carry DIFFERENT content (the operator corrected
    it), so a content-blind fill-the-holes guard could weld two versions
    into one chimera: each sidecar dir first purges the residue a dead
    attempt landed at ``(rid, new_rev)`` (an exact exclude through the
    journaled compactor), then takes one coalesced append, so every
    crash window leaves nothing or one complete row set."""
    # memo contract: the residue purge and the exit compactions can create
    # journals — invalidate at ENTRY so a crash mid-compaction leaves no
    # memoized 'healed' claim masking the fresh journal
    state_store.invalidate_probe_memo(index_dir)
    # both probes JOIN the id against the hinted sets, so the bounded-
    # broadcast hint sits where it applies (outside a join it only logs)
    one = state_store.literal_frame(spark, [(rid,)], f"{id_col} {id_type}")
    tomb = tombstones.read_tombstones(spark, index_dir, cols=[id_col])
    if tomb is not None and one.join(tomb, id_col, "left_semi").count():
        raise ValueError(
            f"revise refused: id {rid!r} is tombstoned (erased) in "
            f"{index_dir} — erasure burns are permanent; re-ingest under "
            f"a new id or rebuild the index"
        )
    revs = read_revisions(spark, index_dir, id_col)
    cur = 0
    if revs is not None:
        row = one.join(revs, id_col).collect()
        cur = int(row[0]["rev"]) if row else 0
    new_rev = cur + 1
    key = state_store.literal_frame(
        spark, [(rid, new_rev)], f"{id_col} {id_type}, rev int"
    )
    at_key = (F.col(id_col) == F.lit(rid)) & (F.col("rev") == F.lit(new_rev))
    for frame, d in rows:
        side = read_or_empty(spark, d)
        if side is not None and side.filter(at_key).count():
            state_store.compact_small_files(
                spark, d, exclude=F.broadcast(key),
                exclude_cols=[id_col, "rev"],
                force=True, include_graduated=True,
            )
        at_rev = frame.withColumn("rev", F.lit(new_rev).cast("int"))
        at_rev.coalesce(1).write.mode("append").parquet(d)
    # marker LAST: from here the new rev is live at every probe
    key.coalesce(1).write.mode("append").parquet(markers_dir(index_dir))
    # one file per revise otherwise: the tombstones' bounded census
    for _, d in rows:
        state_store.compact_small_files(spark, d)
    state_store.compact_small_files(
        spark, markers_dir(index_dir), transform=lambda df: df.distinct()
    )
    return new_rev


def absorb(spark, index_dir: str, id_col: str, targets) -> tuple[int, list]:
    """The absorb core: physically fold every pending revision into the
    main store, so probes return to the no-revisions fast path without a
    rebuild. ``targets(revs)`` names the family's rewrites: (main dir,
    the latest-rev rows that dir must gain) pairs — stale dirs included
    with no fresh rows. Each dir drops every revised id's rows and unions
    the fresh ones, through the journaled compactor (or one direct append
    into a dir that holds no data). Returns (ids absorbed, target dirs).

    With nothing pending, only the orphan sweep runs: an absorb that died
    between the marker drop and the sidecar drop leaves sidecar rows no
    marker joins in any more."""
    state_store.invalidate_probe_memo(index_dir)
    state_store.recover_dir_compaction(spark, markers_dir(index_dir))
    revs = read_revisions(spark, index_dir, id_col)
    if revs is None:
        _drop(spark, sidecar_dir(index_dir))
        return 0, []
    n_ids = revs.count()
    rev_ids = revs.select(id_col)
    pairs = targets(revs)
    for d, fresh in pairs:
        if state_store.has_data_files(spark, d):
            state_store.compact_small_files(
                spark, d,
                exclude=rev_ids, exclude_cols=[id_col],
                transform=lambda df, f=fresh: df.unionByName(f),
                force=True, include_graduated=True,
            )
        elif not fresh.isEmpty():
            fresh.coalesce(1).write.mode("append").parquet(d)
    # COMMIT POINT: from here probes serve the absorbed main rows on the
    # fast path (a journaled fold-to-empty of the markers would instead
    # leave a 0-row file that reads as an empty marker FRAME, keeping
    # probes on the slow path forever). A partial recursive delete is
    # still probe-correct: surviving markers keep their ids on the
    # sidecar path, deleted markers' ids serve the absorbed rows.
    drop_revisions(spark, index_dir)
    state_store.invalidate_probe_memo(index_dir)
    return n_ids, [d for d, _ in pairs]


def burn(
    spark, index_dir: str, ids: list, id_col: str,
    resolved: DataFrame | None, id_type: str = "bigint",
) -> int:
    """The delete core: append ``ids`` to the store's tombstones and
    return how many of them are currently stored — distinct ids of
    ``resolved``, the family's resolved view (revisions applied, earlier
    tombstones excluded), whose schema also types the ids. With nothing
    stored (``resolved`` None) the layout meta's advisory ``id_type``
    types them: a string-keyed store must never get a bigint tombstone
    file whose anti-join silently never matches."""
    if resolved is None:
        ids_df = state_store.literal_frame(
            spark, [(i,) for i in ids], f"{id_col} {id_type}"
        )
        stored = 0
    else:
        ids_df = state_store.literal_frame(
            spark, [(i,) for i in ids], T.StructType([resolved.schema[id_col]])
        )
        # distinct ids, not matching rows: crash-replay residue can
        # duplicate a row and would over-count the report
        stored = (
            resolved.select(id_col)
            .join(F.broadcast(ids_df), id_col, "left_semi")
            .distinct()
            .count()
        )
    ids_df.distinct().coalesce(1).write.mode("append").parquet(
        tombstones.tombstones_path(index_dir)
    )
    # bound the tombstone set's own file growth at the source: one append
    # per erase request forever would regrow its listing cost
    tombstones.maintain_tombstones(spark, index_dir)
    return int(stored)
