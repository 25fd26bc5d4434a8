"""Incremental lexical-search index maintenance: the postings store as
streaming state.

The batch search family (``operators/search.py``) stages the inverted
index once per corpus fingerprint; a production corpus is never static.
This stream keeps the SAME index shape current per micro-batch — the
third index family to get the corpus-as-state treatment, after the dedup
sidecars and the IVF cell store:

- ``<index_dir>/doclen`` — (doc_id, dl) rows, ONE atomic Spark append per
  batch. This is the authoritative "this document is indexed" record
  (the corpus-analog of the dedup streams): committer v1 atomicity means
  a crashed append leaves no visible rows.
- ``<index_dir>/postings/tb=<bucket>/`` — (term, tf, doc_id) rows under
  hive-style term-bucket directories (tb = pmod(xxhash64(term),
  n_term_buckets)), appended through the index stores' shared
  :func:`banded_index.append_partitioned` (executor-direct writes, ONE
  job for the postings and the forward rows below) with
  an append id derived from the micro-batch content — deterministic
  final names + the writer's skip-if-landed rule make the postings
  append REPLAY-IDEMPOTENT: a crashed attempt's landed buckets are
  skipped, holes are filled, never duplicated. Untrusted filesystems
  fall back to the dynamic-partition committer (slower, never wrong;
  warned once), where the store's (term, doc) key guards the append.
- ``<index_dir>_docidx`` — a :class:`BandedFingerprintIndex` over the
  indexed doc ids, so the per-batch "already indexed?" replay guard
  reads only the batch's OWN id bands instead of the whole doclen
  column.
- ``<index_dir>/forward/db=<bucket>/`` (round 13) — the doc-major
  FORWARD sidecar: the same (term, tf, doc_id) rows bucketed by
  ``pmod(xxhash64(cast(id as string)), n_doc_buckets)``, written in the
  postings' job with their exact replay-idempotence (append-id suffix
  ``f``), so data-derived term passes (Rocchio's candidate vocabulary)
  read ≤ |docs| buckets instead of the whole inverted store. Meta-gated
  by ``n_doc_buckets``; :func:`settle_forward_index` backfills legacy
  stores.
- ``<index_dir>_rev/{terms,doclen}`` + ``<index_dir>_revisions``
  (round 13) — the UPDATE path: :func:`revise_search_document` indexes
  edited content under a versioned identity (id, rev) and probes
  resolve the LATEST rev everywhere (stale main-store rows are
  anti-joined away); :func:`absorb_search_revisions` folds them into
  the main store. Erasure burns stay permanent — revise refuses
  tombstoned ids. The protocol (revise, absorb, the delete burn and the
  probe-side resolution) is owned by ``streaming/revisions.py``, shared
  with the IVF cell store; this module supplies only the search rows
  and the ``tb=`` / ``db=`` / doclen dirs they land in.

Layout guard: ``<index_dir>/_meta.json`` pins ``n_term_buckets`` /
``id_col`` (staged-then-renamed write — a torn meta cannot wedge
replays). A processor or probe whose configuration contradicts the
stored layout REFUSES loudly: probing across a bucket-count change would
silently miss posting lists — the config-drift class the banded and IVF
indexes already close.

Crash matrix (postings FIRST — that append is replay-idempotent, so
every window before the doclen commit replays cleanly with no marker at
all; the marker brackets only doclen → docidx):
- die during/after the postings append, before doclen: nothing is
  authoritatively indexed; the replay's guard passes every doc, the
  postings re-append under the SAME append id skips landed buckets and
  fills holes (direct path) or anti-joins (term, doc) against the
  batch's buckets (committer fallback), doclen commits once.
- die between doclen and the docidx append: the replay
  sees the surviving marker, falls back to the authoritative doclen
  scan, and captures the crashed window's docs as the ids doclen
  recorded but the docidx append never reached (ids already in the
  sidecar were fully committed by EARLIER batches — their postings live
  under a different append id, so re-appending them would duplicate,
  not fill). Their postings are re-appended GUARDED — a (term, doc)
  anti-join against the touched buckets, under an id distinct from the
  main append's — because the crashed attempt's append id is unknowable
  after a checkpoint re-point, so name-based skipping cannot be trusted
  on this path (and sharing the main id would let heal-written files
  make the main append's same-band files skip); their docidx rows are
  healed. The append id pins the CONTENT (an id+text fingerprint of the
  deterministically-deduped batch — min text per id, so a replay
  re-derives byte-identical rows), so a re-pointed checkpoint reusing
  batch ids with different data can neither be silently skipped nor mix
  two texts' postings under one landed/unlanded bucket split.
- die after postings, before the marker clears: same heal path; every
  re-append is a no-op or harmless.

Per-batch cost follows the batch: the fingerprint job that names the
append also sums the batch's text bytes, and the one persisted per-batch
frame is brought to :func:`banded_index.batch_partitions` of them
(``ceil(bytes / advisoryPartitionSizeInBytes)``, at most the default
parallelism) before anything reads it, so the stages that scan it — the
postings aggregation's map side, the doclen write (one file per
partition), the docidx pairs — run that many tasks, not
``spark.sql.shuffle.partitions``. The postings + forward write takes the
same count explicitly, so it holds with adaptive query execution off (a
stateful upstream); the aggregation's reduce side is left to AQE's
coalescing.

Maintenance: every ``maintain_every`` batches the processor compacts the
``_docidx`` sidecar (the banded index's own per-band maintenance) AND the
postings/doclen directories (:func:`maintain_search_index`) — each batch
appends one file per touched ``tb=`` bucket plus one doclen file, and
without compaction probe listing/footer cost grows linearly with stream
age. The compactor is size-tiered (small files merge into a segment;
segments ≥ the byte target graduate and are never rewritten) and
journaled (crash mid-merge heals at the next open — processor, probe,
and maintenance all run :func:`recover_search_index` first).

Probe: :func:`bm25_over_index` — the batch BM25 scorer over a
partition-pruned scan of the query terms' buckets only. At 100 TB the
probe reads |terms| buckets of the store, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .banded_index import (
    BandedFingerprintIndex,
    PartitionedAppend,
    append_partitioned,
    batch_partitions,
    hadoop_read_json,
)
from .dedup_stream import _heal_exact_index, _settle_indexes
from .revisions import (
    absorb,
    apply_revisions,
    burn,
    drop_revisions,
    latest_rows,
    markers_dir,
    partitions_holding,
    read_or_empty,
    read_revisions,
    revise,
    sidecar_dir,
)
from .state_store import (
    _memo_for,
    has_data_files,
    invalidate_probe_memo,
    literal_frame,
    recover_dirs,
)
from .writer_lease import fenced

_META = "_meta.json"
_SCHEMA_TAG = "search:doclen-id:id-only"

# sentinel distinguishing "resolve tombstones/revisions yourself" from an
# explicit None (caller already checked: nothing to apply)
_UNSET = object()


class SearchIndexLayoutError(RuntimeError):
    pass


def _postings_dir(index_dir: str) -> str:
    return index_dir.rstrip("/") + "/postings"


def _doclen_dir(index_dir: str) -> str:
    return index_dir.rstrip("/") + "/doclen"


def _docidx_path(index_dir: str) -> str:
    return index_dir.rstrip("/") + "_docidx"


def _forward_dir(index_dir: str) -> str:
    """Doc-major forward sidecar: the SAME (term, id, tf) rows as the
    postings store, hive-partitioned by ``db = pmod(xxhash64(cast(id as
    string)), n_doc_buckets)`` — so passes whose term set is DATA-derived
    (Rocchio's candidate vocabulary: "every term in these fb_k docs")
    read ≤ |docs| buckets instead of the whole inverted store, which
    cannot prune by doc. Maintained by the same stream appends, meta
    gate ``n_doc_buckets`` (absent = no forward sidecar; backfill via
    :func:`settle_forward_index`)."""
    return index_dir.rstrip("/") + "/forward"


def _rev_terms_dir(index_dir: str) -> str:
    return sidecar_dir(index_dir, "terms")


def _rev_doclen_dir(index_dir: str) -> str:
    return sidecar_dir(index_dir, "doclen")


def _id_pairs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(fp = doc id as string, fpk = xxhash64) rows for the id sidecar —
    the exact-dedup sidecar layout with ids in place of fingerprints."""
    fp = F.col(id_col).cast("string")
    return df.select(fp.alias("fp")).withColumn("fpk", F.xxhash64(F.col("fp")))


def term_bucket(col, n_term_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_term_buckets)).cast("int")


def doc_bucket(col, n_doc_buckets: int):
    """Forward-sidecar bucket of a document id. The id is CAST TO STRING
    before hashing so the driver-side twin (``functions/hashing.xxhash64``
    over ``str(id)``) computes the identical bucket for probe pruning —
    Spark's xxhash64 of a bigint hashes its 8 raw bytes, which the
    pure-Python twin does not model."""
    return F.pmod(
        F.xxhash64(col.cast("string")), F.lit(n_doc_buckets)
    ).cast("int")


def _check_meta(
    spark, index_dir: str, n_term_buckets: int, id_col: str,
    id_type: str | None = None, n_doc_buckets: int | None = None,
) -> None:
    """Adopt-or-refuse against the persisted layout; write it if absent
    (the families' shared meta-guard helper — see ``state_store``).
    ``id_type`` (the id column's Spark type, advisory — recorded, never
    validated) lets delete ops burn correctly-typed ids before any data
    exists. ``n_doc_buckets`` enables the forward sidecar: NOT an
    advisory field (the generic backfill would stamp it onto a legacy
    store whose forward DATA doesn't exist, silently serving empty
    candidate passes) — it reaches the meta only through
    :func:`settle_forward_index`, which builds the data first. The
    stored value always wins over the caller's (the banded index's
    adoption rule)."""
    from .state_store import adopt_or_refuse_meta

    adopt_or_refuse_meta(
        spark,
        index_dir.rstrip("/") + "/" + _META,
        {"n_term_buckets": int(n_term_buckets), "id_col": id_col},
        SearchIndexLayoutError,
        f"search index at {index_dir}",
        consequence=(
            "Probing or appending across a bucket-count change silently "
            "corrupts posting-list lookups — re-point the stream or "
            "rebuild the index directory."
        ),
        advisory={"id_type": id_type} if id_type else None,
    )
    # the adopt path may have just created or advisory-backfilled the
    # meta: drop any stale memo of it
    invalidate_probe_memo(index_dir)
    if n_doc_buckets is not None:
        settle_forward_index(spark, index_dir, n_doc_buckets)


def load_index_meta(spark, index_dir: str) -> dict:
    memo = _memo_for(spark, index_dir)
    if memo["meta"] is not None:
        return memo["meta"]
    meta = hadoop_read_json(spark, index_dir.rstrip("/") + "/" + _META)
    if meta is None:
        raise SearchIndexLayoutError(
            f"no _meta.json under {index_dir}: not an incremental search "
            f"index (or its first batch never committed)"
        )
    memo["meta"] = meta
    return meta


def _postings_bucket_dirs(spark, index_dir: str) -> list[str]:
    """Existing ``tb=`` bucket directory paths under the postings store
    (one root readdir; [] when the store was never written)."""
    from .banded_index import hadoop_list_names

    jvm = spark._jvm
    pdir = _postings_dir(index_dir)
    jp = jvm.org.apache.hadoop.fs.Path(pdir)
    fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jp):
        return []
    return [
        f"{pdir}/{name}"
        for name in hadoop_list_names(jvm, fs, jp)
        if name.startswith("tb=")
    ]


def recover_search_index(
    spark,
    index_dir: str,
    buckets: list[int] | None = None,
    memoize: bool = True,
) -> None:
    """Heal any crashed compaction on the index's append-per-batch
    directories (doclen + the postings buckets — ``buckets=None`` walks
    all of them, a bounded ≤ n_term_buckets listing; a probe passes just
    its query terms' buckets). Must run before reading an index a dead
    maintenance pass may have left mid-merge — the owners (the stream
    processor at open, :func:`bm25_over_index` per probe,
    :func:`maintain_search_index` itself) all do. Directories healed
    once this session are skipped via the probe memo (sound: only
    maintenance/purge create new journals, and they invalidate the memo
    at entry). ``memoize=False`` is for those owner ops themselves: they
    are ABOUT to write new journals, so their pre-pass must neither trust
    nor populate the memo."""
    if buckets is None:
        dirs = _postings_bucket_dirs(spark, index_dir)
    else:
        pdir = _postings_dir(index_dir)
        dirs = [f"{pdir}/tb={b}" for b in buckets]
    recover_dirs(
        spark, index_dir, [_doclen_dir(index_dir)] + dirs, memoize=memoize
    )


def _live_bucket_paths(
    spark, index_dir: str, root_dir: str, names: list[str]
) -> list[str]:
    """The subset of ``root_dir/<name>`` partition directories that exist
    AND hold data files, memo-aware: buckets known non-empty skip the
    listings entirely (positive knowledge only — see the memo contract).
    A dir can exist with ZERO data files (an all-rows-tombstoned merge
    journals final=None and deletes every input) — schema inference over
    it would crash the probe, so dataless dirs are skipped like absent
    ones. ≤ |names| bounded listings."""
    memo_ne = _memo_for(spark, index_dir)["nonempty"]
    paths: list[str] = []
    unknown: list[str] = []
    for name in names:
        d = f"{root_dir}/{name}"
        if d in memo_ne:
            paths.append(d)
        else:
            unknown.append(name)
    if unknown:
        jvm = spark._jvm
        jp = jvm.org.apache.hadoop.fs.Path(root_dir)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jp):
            from .banded_index import hadoop_list_names

            existing = set(hadoop_list_names(jvm, fs, jp))
            for name in unknown:
                d = f"{root_dir}/{name}"
                if name in existing and has_data_files(spark, d):
                    paths.append(d)
                    memo_ne.add(d)
        paths.sort()
    return paths


def detect_search_index(
    spark, index_dir: str, buckets: list[int] | None = None
) -> None:
    """READ-ONLY twin of :func:`recover_search_index`: raise
    :class:`state_store.InFlightRecoveryError` when any of the index's
    directories carries an unhealed compaction journal, instead of
    repairing it. For multi-session consumers outside the single-writer
    contract (``bm25_over_index(heal="detect")``): repairing renames and
    deletes files, which only the store's owner may do — a read-only
    probe racing the owner's own recovery could otherwise double-heal."""
    from .state_store import InFlightRecoveryError, detect_dir_compaction

    dirs = [_doclen_dir(index_dir)]
    if buckets is None:
        dirs += _postings_bucket_dirs(spark, index_dir)
    else:
        pdir = _postings_dir(index_dir)
        dirs += [f"{pdir}/tb={b}" for b in buckets]
    for d in dirs:
        if detect_dir_compaction(spark, d):
            raise InFlightRecoveryError(
                f"search index at {index_dir}: unhealed compaction journal "
                f"under {d} — a maintenance pass died mid-merge. Read-only "
                f"probes must not repair; the owner heals it via "
                f"recover_search_index / maintain_search_index (or any "
                f"owner-side probe with heal='repair')."
            )


@fenced("settle-forward")
def settle_forward_index(
    spark, index_dir: str, n_doc_buckets: int = 32
) -> int:
    """Ensure the doc-major forward sidecar exists and is meta-gated;
    returns the effective bucket count. Idempotent: a store that already
    has ``n_doc_buckets`` in its meta AND a forward directory (or no
    postings at all) is untouched. Otherwise the sidecar is BACKFILLED
    from the postings store (one full index read — the same one-time,
    index-proportional settlement the ``_docidx`` sidecar gets), staged
    to ``forward_fwtmp`` and renamed, and only THEN does the meta gain
    the gate field — a crash anywhere re-runs the backfill; probes never
    see the field without complete data. Owner op (single-writer
    window)."""
    from .banded_index import hadoop_write_json

    meta = load_index_meta(spark, index_dir)
    id_col = meta["id_col"]
    ndb = int(meta.get("n_doc_buckets", n_doc_buckets))
    fdir = _forward_dir(index_dir)
    jvm = spark._jvm
    fp = jvm.org.apache.hadoop.fs.Path(fdir)
    fs = fp.getFileSystem(spark._jsc.hadoopConfiguration())
    if "n_doc_buckets" in meta and fs.exists(fp):
        return ndb  # settled: one memo'd meta read + one stat
    # heal BEFORE the backfill read: a compaction that died post-rename
    # leaves segment+inputs double-visible, and unlike a transient probe
    # this read's duplicates would be PERSISTED into the sidecar
    recover_search_index(spark, index_dir, memoize=False)
    post = read_or_empty(spark, _postings_dir(index_dir))
    if "n_doc_buckets" in meta and post is None:
        return ndb  # gate present, nothing to build from (fresh/purged)
    if post is not None:
        tmp = index_dir.rstrip("/") + "/forward_fwtmp"
        tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
        (
            post.select("term", id_col, "tf")
            .withColumn("db", doc_bucket(F.col(id_col), ndb))
            .repartition("db")
            .write.partitionBy("db")
            .mode("overwrite")
            .parquet(tmp)
        )
        if fs.exists(fp):  # stale partial from a crashed settle
            fs.delete(fp, True)
        if not fs.rename(tmp_p, fp):
            raise RuntimeError(
                f"forward settle: rename {tmp} -> {fdir} failed"
            )
    if "n_doc_buckets" not in meta:
        meta2 = dict(meta)
        meta2["n_doc_buckets"] = ndb
        hadoop_write_json(
            spark, index_dir.rstrip("/") + "/" + _META, meta2
        )
    invalidate_probe_memo(index_dir)
    return ndb


def forward_terms_for_docs(
    spark,
    index_dir: str,
    ids: list,
    id_col: str = "doc_id",
    tomb=_UNSET,
    revs=_UNSET,
    heal="repair",
) -> DataFrame:
    """(term, id, tf) rows of the given documents, read from ≤ |ids|
    ``db=`` buckets of the forward sidecar — the doc-major path for
    data-derived term passes (Rocchio candidate vocabulary). The ids are
    a bounded query constant (fb_k), so their buckets are computed
    DRIVER-SIDE with the parity-pinned pure-Python xxhash64 over
    ``str(id)`` (matching :func:`doc_bucket`'s cast-to-string). ``tomb``
    and ``revs`` follow the composite-probe convention: the caller
    resolves them once (None = caller checked, nothing to apply).
    Raises :class:`SearchIndexLayoutError` when the store has no forward
    sidecar — run :func:`settle_forward_index`."""
    from ..functions.hashing import pmod_bucket, xxhash64 as _xxh

    meta = load_index_meta(spark, index_dir)
    if "n_doc_buckets" not in meta:
        raise SearchIndexLayoutError(
            f"search index at {index_dir} has no forward sidecar — run "
            f"settle_forward_index (or rebuild) before doc-major probes"
        )
    ndb = int(meta["n_doc_buckets"])
    dbs = sorted({pmod_bucket(_xxh(str(i)), ndb) for i in ids})
    fdir = _forward_dir(index_dir)
    dirs = [f"{fdir}/db={b}" for b in dbs]
    if heal == "detect":
        from .state_store import InFlightRecoveryError, detect_dir_compaction

        for d in dirs:
            if detect_dir_compaction(spark, d):
                raise InFlightRecoveryError(
                    f"forward sidecar at {fdir}: unhealed compaction "
                    f"journal under {d} — read-only probes must not "
                    f"repair (owner: maintain_search_index)."
                )
    elif heal:
        recover_dirs(spark, index_dir, dirs)
    paths = _live_bucket_paths(spark, index_dir, fdir, [f"db={b}" for b in dbs])
    if not paths:
        idt = meta.get("id_type", "bigint")
        out = spark.createDataFrame(
            [], f"term string, {id_col} {idt}, tf bigint"
        )
    else:
        out = (
            spark.read.option("basePath", fdir)
            .parquet(*paths)
            .filter(F.col("db").isin(dbs) & F.col(id_col).isin(ids))
            .select("term", id_col, "tf")
        )
    if revs is _UNSET:
        revs = read_revisions(spark, index_dir, id_col)
    out = apply_revisions(
        spark, index_dir, out, id_col, revs,
        _rev_terms_dir(index_dir), ["term", id_col, "tf"],
        where=F.col(id_col).isin(ids),
        heal="detect" if heal == "detect" else "repair",
    )
    if tomb is _UNSET:
        tomb = _search_tombstones(spark, index_dir, id_col, heal=heal)
    if tomb is not None:
        out = out.join(tomb, id_col, "left_anti")
    return out


@fenced("revise")
def revise_search_document(
    spark, index_dir: str, doc_id, new_text: str
) -> int:
    """UPDATE a document's indexed content in place — the reference's
    routine upsert-overwrites-and-re-embeds behavior
    (``src/loader/service.py:324-422``) for the append-only index, through
    the versioned-identity protocol (``streaming/revisions.py``): the new
    content's (term, tf) and doclen rows land in the ``_rev/terms`` and
    ``_rev/doclen`` sidecars under (id, rev), and a max-rev marker makes
    every probe serve them (older revs and the main-store rows are
    anti-joined away). An id with no prior index entry is inserted
    (upsert semantics). Physical absorption: :func:`absorb_search_revisions`
    (maintenance runs it past a revised fraction) or a rebuild.

    NOT for erasure, and refuses burned ids: a tombstoned id was ERASED
    — serving new content under it would contradict the suppression
    list, and the dedup families additionally burn the content's
    FINGERPRINT (a revised near-copy would re-enter the corpus the
    erased text was purged from), so dedup burns stay permanent by
    design; route true erase-then-recreate through a new id.

    Crash-safe without a journal (marker last; a retry purges a dead
    attempt's residue first — :func:`revisions.revise`). Returns the new
    revision number. Owner op (single-writer window)."""
    from ..functions import text as TXT

    meta = load_index_meta(spark, index_dir)
    id_col = meta["id_col"]
    idt = meta.get("id_type", "bigint")
    one = literal_frame(
        spark, [(doc_id, new_text)], f"{id_col} {idt}, text string"
    )
    terms = (
        one.select(
            F.col(id_col), F.explode(TXT.tokens(F.col("text"))).alias("term")
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = one.select(
        F.col(id_col), F.size(TXT.tokens(F.col("text"))).alias("dl")
    ).filter(F.col("dl") > 0)
    return revise(
        spark, index_dir, id_col, idt, doc_id,
        [(terms, _rev_terms_dir(index_dir)), (dl, _rev_doclen_dir(index_dir))],
    )


@fenced("absorb")
def absorb_search_revisions(spark, index_dir: str) -> dict:
    """Physically fold every pending revision into the main store —
    latest-rev rows move into their ``tb=`` postings buckets, doclen,
    and the forward sidecar; the stale main rows drop; the ``(id, rev)``
    markers and the ``_rev`` sidecars empty. Probes then return to the
    ZERO-added-plan no-revisions fast path without a full rebuild — the
    scale story for high-edit-rate stores, whose probes otherwise pay the
    marker join + rev resolution on every query forever. The reference's
    UPDATE is a Postgres row overwrite (``src/loader/service.py:324-422``)
    — absorption is that overwrite executed lazily, amortized into the
    maintenance tick. Probe-equivalent at every crash window, with the
    marker drop as the commit point (:func:`revisions.absorb`).

    A doc revised to empty text (no doclen row at its latest rev) is
    absorbed as a physical REMOVAL — exactly how probes already rendered
    it. Cost: one journaled rewrite per affected bucket (stale buckets
    named by a thin semi-join scan, the purge discipline; fresh buckets
    from the rev rows' term hashes), bounded by the edit set's term
    spread, never index-proportional beyond the thin scan. Owner op
    (fenced; nests inside ``maintain_search_index``'s lease)."""
    from .state_store import _fs_for

    meta = load_index_meta(spark, index_dir)
    id_col = meta["id_col"]
    idt = meta.get("id_type", "bigint")
    ntb = int(meta["n_term_buckets"])
    pdir, fdir = _postings_dir(index_dir), _forward_dir(index_dir)
    _, fs, fp = _fs_for(spark, fdir)
    forward = "n_doc_buckets" in meta and fs.exists(fp)

    def targets(revs: DataFrame) -> list:
        recover_search_index(spark, index_dir, memoize=False)
        rev_ids = revs.select(id_col)
        post = latest_rows(
            spark, _rev_terms_dir(index_dir), revs, id_col,
            f"{id_col} {idt}, rev int, term string, tf bigint",
        ).select("term", id_col, "tf")
        dl = latest_rows(
            spark, _rev_doclen_dir(index_dir), revs, id_col,
            f"{id_col} {idt}, rev int, dl bigint",
        ).select(id_col, "dl")
        tb = term_bucket(F.col("term"), ntb)
        tbs = partitions_holding(spark, pdir, rev_ids, id_col, "tb") | {
            r[0] for r in post.select(tb).distinct().collect()
        }
        pairs = [(f"{pdir}/tb={b}", post.filter(tb == b)) for b in sorted(tbs)]
        if forward:
            db = doc_bucket(F.col(id_col), int(meta["n_doc_buckets"]))
            dbs = sorted(r[0] for r in rev_ids.select(db).distinct().collect())
            pairs += [(f"{fdir}/db={b}", post.filter(db == b)) for b in dbs]
        return pairs + [(_doclen_dir(index_dir), dl)]

    n_docs, dirs = absorb(spark, index_dir, id_col, targets)
    return {
        "absorbed_docs": n_docs,
        "postings_buckets": sum(d.startswith(pdir + "/") for d in dirs),
        "forward_buckets": sum(d.startswith(fdir + "/") for d in dirs),
    }


@fenced("delete")
def delete_from_search_index(spark, index_dir: str, ids: list) -> int:
    """Tombstone document ids: from this call on, probes exclude them
    (``bm25_over_index`` anti-joins postings AND doclen, so scores, df,
    and corpus stats all rank exactly as if the docs were physically
    gone), maintenance folds their rows out of every file it rewrites,
    and the stream BURNS the ids at batch entry — a replayed or re-sent
    doc under a tombstoned id can never be re-indexed. Physical removal
    is :func:`purge_search_tombstones`. Returns how many of the ids were
    actually indexed (all requested ids are tombstoned regardless — a
    delete may race a doc that is still in flight). Single-writer
    discipline: run between micro-batches of a HEALTHY stream — replay a
    crashed batch before issuing deletes."""
    id_col = load_index_meta(spark, index_dir)["id_col"]
    # the RESOLVED view, not the raw doclen directory: a doc inserted via
    # revise lives only in the _rev sidecars and must still count as
    # stored, an id already erased must not. An absent or dataless doclen
    # (a delete racing the first batch, or after an erase-everything
    # purge) reads as empty, typed from the meta's advisory id_type.
    resolved = index_doclen(spark, index_dir, id_col=id_col)
    return burn(spark, index_dir, ids, id_col, resolved)


def _search_tombstones(spark, index_dir: str, id_col: str, heal="repair"):
    """Distinct tombstoned ids as a (id_col) frame, or None. The frame is
    broadcast-hinted only while the set is small (read_tombstones'
    bounded-broadcast escape) — consumers join it as is. ``heal`` follows
    the probe convention ("repair" owner-side, "detect" read-only)."""
    from .tombstones import read_tombstones

    return read_tombstones(spark, index_dir, cols=[id_col], heal=heal)


@fenced("purge")
def purge_search_tombstones(spark, index_dir: str, clear: bool = False) -> dict:
    """Physically drop tombstoned docs from the index: rewrite ONLY the
    postings buckets that contain them (one thin column-pruned scan names
    the buckets — bounded by n_term_buckets) plus the doclen directory,
    through the same journaled compactor maintenance uses (force mode,
    graduated segments included), so a crash anywhere heals at the next
    open. Probes rank identically before and after (they anti-join the
    tombstone set) — purge timing is an operations choice, not a
    correctness event. The tombstone set is KEPT by default (the id stays
    burned — the ``_docidx`` replay guard still holds it, so a re-sent id
    is skipped); ``clear=True`` drops it when the
    erasure must also forget the ids. Single-writer: stream stopped or
    between batches."""
    from pyspark.errors import AnalysisException

    from ..errors import is_path_not_found
    from .state_store import compact_small_files
    from .tombstones import tombstones_path

    meta = load_index_meta(spark, index_dir)
    id_col = meta["id_col"]
    # purge rewrites/empties directories: probes must re-verify from disk
    invalidate_probe_memo(index_dir)
    recover_search_index(spark, index_dir, memoize=False)
    tomb = _search_tombstones(spark, index_dir, id_col)
    if tomb is None:
        return {"buckets_purged": 0, "docs_purged": 0}
    pdir = _postings_dir(index_dir)
    tbs: list[int] = []
    try:
        post = spark.read.parquet(pdir)
        tbs = [
            r[0]
            for r in post.join(tomb, id_col, "left_semi")
            .select("tb")
            .distinct()
            .collect()
        ]
    except AnalysisException as exc:
        if not is_path_not_found(exc):
            raise
    for b in sorted(tbs):
        compact_small_files(
            spark,
            f"{pdir}/tb={b}",
            exclude=tomb,
            exclude_cols=[id_col],
            force=True,
            include_graduated=True,
        )
    # the forward sidecar's affected db= buckets are computable from the
    # tombstoned ids alone (db = hash(id)) — one tiny column job
    if "n_doc_buckets" in meta:
        fdir = _forward_dir(index_dir)
        jvm = spark._jvm
        jfp = jvm.org.apache.hadoop.fs.Path(fdir)
        ffs = jfp.getFileSystem(spark._jsc.hadoopConfiguration())
        if ffs.exists(jfp):
            dbs = [
                r[0]
                for r in tomb.select(
                    doc_bucket(F.col(id_col), int(meta["n_doc_buckets"]))
                    .alias("db")
                )
                .distinct()
                .collect()
            ]
            for b in sorted(dbs):
                compact_small_files(
                    spark,
                    f"{fdir}/db={b}",
                    exclude=tomb,
                    exclude_cols=[id_col],
                    force=True,
                    include_graduated=True,
                )
    # a revised-then-erased doc also has rows in the _rev sidecars
    for d in (_rev_terms_dir(index_dir), _rev_doclen_dir(index_dir)):
        compact_small_files(
            spark, d, exclude=tomb, exclude_cols=[id_col],
            force=True, include_graduated=True,
        )
    # resolved-view count (main ∪ latest-rev sidecar doclen, WITHOUT the
    # tombstone filter — these are exactly the docs being purged)
    revs_all = read_revisions(spark, index_dir, id_col)
    try:
        raw_dl = spark.read.parquet(_doclen_dir(index_dir)).select(id_col)
        raw_dl.schema
    except AnalysisException as exc:
        if not is_path_not_found(exc):
            raise
        raw_dl = None
    doomed_dl = raw_dl
    if revs_all is not None:
        rev_ids = revs_all.select(id_col)
        doomed_dl = (
            rev_ids if doomed_dl is None else doomed_dl.unionByName(rev_ids)
        )
    docs = (
        doomed_dl.join(tomb, id_col, "left_semi").distinct().count()
        if doomed_dl is not None
        else 0
    )
    compact_small_files(
        spark,
        _doclen_dir(index_dir),
        exclude=tomb,
        exclude_cols=[id_col],
        force=True,
        include_graduated=True,
    )
    jvm = spark._jvm
    dl_p = jvm.org.apache.hadoop.fs.Path(_doclen_dir(index_dir))
    fs = dl_p.getFileSystem(spark._jsc.hadoopConfiguration())
    # DEFENSE: on this engine an all-rows-excluded merge writes one 0-row
    # schema-bearing file (verified live), so a doclen is normally never
    # dataless and this branch stays unreachable — but the journal's
    # final=None state is layout-legal, so a filesystem/engine that does
    # produce it must not leave an unreadable index behind
    erased_all = fs.exists(dl_p) and not has_data_files(
        spark, _doclen_dir(index_dir)
    )
    if erased_all:
        # FULL erasure: a dataless doclen directory would read as
        # unreadable, not absent — delete doclen and postings so the
        # stream's "no doclen ⇒ nothing authoritatively indexed" first-
        # batch path applies cleanly (it invalidates the sidecar itself)
        fs.delete(dl_p, True)
        pp = jvm.org.apache.hadoop.fs.Path(pdir)
        if fs.exists(pp):
            fs.delete(pp, True)
        fwp = jvm.org.apache.hadoop.fs.Path(_forward_dir(index_dir))
        if fs.exists(fwp):
            fs.delete(fwp, True)
    if clear:
        # forget the ids EVERYWHERE: without the tombstone entry burn, a
        # stale _docidx row would make the stream skip a re-sent id
        # forever although doclen (purged) no longer holds it — fold the
        # sidecar too
        docidx = BandedFingerprintIndex(
            _docidx_path(index_dir), key_col="fpk", schema_tag=_SCHEMA_TAG
        )
        if erased_all:
            docidx.invalidate(spark)
        elif docidx.exists(spark):
            docidx.maintain(
                spark,
                max_files_per_band=0,
                exclude=tomb.select(
                    F.col(id_col).cast("string").alias("fp")
                ),
                exclude_cols=["fp"],
            )
        # ...and their REVISION markers: apply_revisions anti-joins a
        # revised id's main-store rows, so a re-ingested id (the stated
        # point of clear=True) would be permanently invisible behind a
        # stale marker whose _rev rows this purge just removed
        mdir = markers_dir(index_dir)
        rv = jvm.org.apache.hadoop.fs.Path(mdir)
        if erased_all:
            drop_revisions(spark, index_dir)
        elif fs.exists(rv):
            compact_small_files(
                spark, mdir,
                exclude=tomb, exclude_cols=[id_col],
                force=True, include_graduated=True,
                transform=lambda df: df.distinct(),
            )
            # a fold that removed every marker leaves a dataless dir or a
            # 0-row file (engine-dependent) — drop it either way so
            # read_revisions sees a clean absence, not an empty frame
            if (
                not has_data_files(spark, mdir)
                or spark.read.parquet(mdir).isEmpty()
            ):
                fs.delete(rv, True)
        tp = jvm.org.apache.hadoop.fs.Path(tombstones_path(index_dir))
        if fs.exists(tp):
            fs.delete(tp, True)
    return {"buckets_purged": len(tbs), "docs_purged": int(docs)}


@fenced("maintain")
def maintain_search_index(
    spark,
    index_dir: str,
    buckets: list[int] | None = None,
    max_files_per_bucket: int = 8,
    target_segment_bytes: int = 32 << 20,
    forward_buckets: list[int] | None = None,
    absorb_revised_at: float | None = 0.2,
) -> dict:
    """Bound the postings/doclen small-file growth: every micro-batch
    appends one file per touched ``tb=`` bucket plus one doclen file, so
    without maintenance probe listing/footer cost grows linearly with
    stream age — the failure class the banded index's ``maintain()``
    closes for the dedup sidecars. Merges each over-threshold directory's
    small files into one segment (size-tiered: segments ≥
    ``target_segment_bytes`` graduate and are never rewritten, so rewrite
    work amortizes to O(log) per byte, the LSM argument). ``buckets``
    narrows the census to the buckets the caller knows it dirtied (the
    processor passes its appends' reported bucket sets — detection cost
    scales with batch activity, not index size); None walks all buckets.
    Untouched buckets' files are never rewritten. Crash-safe via the
    manifest journal in ``state_store`` (single-writer discipline: run
    between batches, never concurrently with a probe).

    ``absorb_revised_at`` (round 14): when the pending-revision count
    reaches this fraction of the indexed docs, the tick calls
    :func:`absorb_search_revisions` — folding the ``_rev`` sidecars into
    the main store so probes return to the marker-free fast path. None
    disables (revisions then absorb only at rebuild or via an explicit
    absorb call)."""
    from .state_store import compact_small_files

    # maintenance can crash mid-compaction (new journals) and can empty a
    # bucket (all-rows-tombstoned merge): invalidate BEFORE touching
    # anything so a death anywhere leaves probes re-verifying from disk
    invalidate_probe_memo(index_dir)
    recover_search_index(spark, index_dir, buckets, memoize=False)
    meta = hadoop_read_json(spark, index_dir.rstrip("/") + "/" + _META)
    absorbed = 0
    if absorb_revised_at is not None and meta is not None:
        # fold pending revisions into the main store once the revised
        # fraction crosses the threshold: high-edit-rate stores otherwise
        # pay the marker join + rev resolution on every probe forever
        # (absorb_search_revisions — probe-equivalent at every window).
        # Fraction base = revised ids / resolved docs; both counts are
        # skipped entirely (one fs stat) when nothing was ever revised.
        revs_pending = read_revisions(spark, index_dir, meta["id_col"])
        if revs_pending is not None:
            n_rev = revs_pending.count()
            dl = read_or_empty(spark, _doclen_dir(index_dir))
            n_docs = 0 if dl is None else dl.count()
            if n_rev and n_rev >= absorb_revised_at * max(n_docs, 1):
                absorbed = absorb_search_revisions(spark, index_dir)[
                    "absorbed_docs"
                ]
    # every rewrite folds tombstoned ids out physically: the delete
    # contract (tombstone at probe, removal at maintenance)
    tomb = None
    if meta is not None:
        tomb = _search_tombstones(spark, index_dir, meta["id_col"])
    ex_cols = [meta["id_col"]] if tomb is not None else None
    if buckets is None:
        dirs = _postings_bucket_dirs(spark, index_dir)
    else:
        pdir = _postings_dir(index_dir)
        dirs = [f"{pdir}/tb={b}" for b in buckets]
    # the forward sidecar fragments one file per touched db= bucket per
    # batch, exactly like postings — same census, same fold
    if meta is not None and "n_doc_buckets" in meta:
        fdir = _forward_dir(index_dir)
        if forward_buckets is None:
            from .banded_index import hadoop_list_names

            jvm = spark._jvm
            jfp = jvm.org.apache.hadoop.fs.Path(fdir)
            ffs = jfp.getFileSystem(spark._jsc.hadoopConfiguration())
            if ffs.exists(jfp):
                dirs += [
                    f"{fdir}/{n}"
                    for n in hadoop_list_names(jvm, ffs, jfp)
                    if n.startswith("db=")
                ]
        else:
            dirs += [f"{fdir}/db={b}" for b in forward_buckets]
    buckets_compacted = 0
    files_merged = 0
    for d in dirs:
        n = compact_small_files(
            spark, d, max_files=max_files_per_bucket,
            target_bytes=target_segment_bytes,
            exclude=tomb, exclude_cols=ex_cols,
        )
        if n:
            buckets_compacted += 1
            files_merged += n
    files_merged += compact_small_files(
        spark, _doclen_dir(index_dir), max_files=max_files_per_bucket,
        target_bytes=target_segment_bytes,
        exclude=tomb, exclude_cols=ex_cols,
    )
    # the revise-side directories accrete one file per revise request
    # (already compacted at revise time past the threshold; this covers
    # stores revised by a session that died before its compaction)
    for d in (_rev_terms_dir(index_dir), _rev_doclen_dir(index_dir)):
        files_merged += compact_small_files(
            spark, d, max_files=max_files_per_bucket,
            target_bytes=target_segment_bytes,
            exclude=tomb, exclude_cols=ex_cols,
        )
    files_merged += compact_small_files(
        spark, markers_dir(index_dir), max_files=max_files_per_bucket,
        transform=lambda df: df.distinct(),
    )
    # the tombstone set's OWN lifecycle: every erase request appends one
    # file forever, so it gets the same size-tiered compaction its index
    # does. LAST — the `tomb` frame above lazily lists this directory,
    # and compacting it first would invalidate that listing mid-plan.
    from .tombstones import maintain_tombstones

    tomb_merged = maintain_tombstones(
        spark, index_dir, max_files=max_files_per_bucket
    )
    return {
        "buckets_compacted": buckets_compacted,
        "files_merged": files_merged,
        "tombstone_files_merged": tomb_merged,
        "revisions_absorbed": absorbed,
    }


def make_search_index_processor(
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_term_buckets: int = 64,
    n_bands: int | None = None,
    maintain_every: int | None = 16,
    maintain_max_files: int = 8,
    n_doc_buckets: int | None = 32,
    fs_options: dict | None = None,
):
    """The ``foreachBatch`` processor maintaining the term-bucketed
    postings store + doclen sidecar + id replay guard under
    ``index_dir`` (probe with :func:`bm25_over_index`); run it as a
    stream with ``state_store.start_stream``, or drive micro-batches
    directly from tests and batch backfills.

    Contract: the index is append-only per document id — a replayed or
    re-sent id is skipped (its first indexed text wins). Re-indexing a
    changed document goes through :func:`revise_search_document` (the
    versioned-identity UPDATE path) or a rebuild.

    ``n_doc_buckets`` maintains the doc-major FORWARD sidecar alongside
    the postings (settled/backfilled at open for pre-forward stores; the
    stored bucket count always wins; None disables). Its per-batch
    append is the second store of the postings' one write job — same
    tokenized rows, same deterministic append-id replay idempotence
    (suffix ``f``), same guarded heal path, same committer fallback — so
    the two layouts stay row-identical under every crash window the
    postings survive."""
    from ..functions import text as T

    docidx = BandedFingerprintIndex(
        _docidx_path(index_dir),
        key_col="fpk",
        n_bands=n_bands,
        schema_tag=_SCHEMA_TAG,
        fs_options=fs_options,
    )
    # both stores key a row by (term, doc): the guard's anti-join key
    postings = PartitionedAppend(
        _postings_dir(index_dir), "tb", fs_options, key_cols=["term", id_col]
    )
    forward = PartitionedAppend(
        _forward_dir(index_dir), "db", fs_options, key_cols=["term", id_col]
    )
    idx_settled: list[bool] = []
    n_done: list[int] = [0]
    meta_ok: list[bool] = []
    # buckets dirtied since the last maintenance tick, reported by the
    # direct append itself — so maintain() lists only what this stream
    # actually touched (batch-proportional detection, the banded index's
    # dirty-set discipline). The committer fallback reports nothing:
    # dirty_unknown degrades the next tick to one full (≤ n_term_buckets)
    # walk.
    dirty_tb: set[int] = set()
    dirty_unknown: list[bool] = []
    dirty_db: set[int] = set()
    fw_ndb: list = []  # effective n_doc_buckets from the settled meta

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        from ..errors import is_path_not_found

        spark = batch_df.sparkSession
        if not meta_ok:
            # open-time heal BEFORE anything reads postings/doclen: a
            # prior process may have died mid-compaction, leaving a
            # merged segment and its inputs simultaneously visible
            recover_search_index(spark, index_dir)
            _check_meta(
                spark, index_dir, n_term_buckets, id_col,
                id_type=batch_df.schema[id_col].dataType.simpleString(),
                n_doc_buckets=n_doc_buckets,
            )
            meta = load_index_meta(spark, index_dir)
            # the stored layout wins (None = store predates the sidecar
            # and the caller disabled settling)
            fw_ndb.append(meta.get("n_doc_buckets"))
            meta_ok.append(True)
        # Intra-batch winner must be DETERMINISTIC (min text per id), not
        # dropDuplicates' partition-order pick: the append id fingerprints
        # the batch CONTENT, so a crashed-then-replayed batch that chose a
        # different winner would skip the crashed attempt's landed buckets
        # (text A's postings) by name while filling unlanded ones with
        # text B's — exactly the mixed-postings state the fingerprint
        # exists to prevent. min(text) re-derives byte-identical rows on
        # every replay, and the fingerprint below is computed over THESE
        # deduped rows so two raw batches that dedup identically converge
        # on the same append id.
        deduped = batch_df.groupBy(id_col).agg(F.min(text_col).alias(text_col))
        fresh = deduped
        # burned ids: a tombstoned id can never be (re-)indexed — the
        # content was erased. Read per batch (one fs stat
        # when no delete was ever issued). The append-id fingerprint stays
        # computed over the PRE-burn `deduped` rows so a replayed batch
        # converges on the same skip-if-landed names even if a delete
        # landed between the attempt and its replay; any postings the
        # crashed attempt landed for a then-tombstoned doc are hidden by
        # the probe's anti-join and folded out by maintenance.
        tomb = _search_tombstones(spark, index_dir, id_col)
        if tomb is not None:
            fresh = fresh.join(tomb, id_col, "left_anti")
        doclen_dir = _doclen_dir(index_dir)
        hist = None
        try:
            hist = spark.read.parquet(doclen_dir)
            hist.schema
        except AnalysisException as exc:
            if not is_path_not_found(exc):
                raise
        need_heal = False
        if hist is None:
            # no doclen ⇒ nothing is authoritatively indexed; a surviving
            # sidecar describes a gone index and must die on every
            # observation of absence (the exact-dedup rule)
            docidx.invalidate(spark)
            if not idx_settled:
                idx_settled.append(True)
        else:
            _settle_indexes(
                spark, ((docidx, lambda: _id_pairs(hist, id_col)),), idx_settled
            )
            need_heal = docidx.was_inflight(spark)
        replayed = None
        if hist is not None:
            if not need_heal:
                bands = docidx.touched_bands(_id_pairs(fresh, id_col).select("fpk"))
                rows = docidx.read_bands(spark, bands) if bands else None
                if rows is not None:
                    fresh = fresh.join(
                        rows.select(F.col("fp").cast("string").alias("__seen")),
                        fresh[id_col].cast("string") == F.col("__seen"),
                        "left_anti",
                    )
            else:
                # post-crash heal: the doclen id column is the authority
                seen = hist.select(F.col(id_col))
                # the crashed window's docs are the ones doclen recorded
                # but the docidx append never reached — ids ALREADY in the
                # sidecar were fully committed by earlier batches (their
                # postings live under a DIFFERENT append id, so
                # re-appending them would duplicate, not fill holes)
                repl = fresh.join(seen, id_col, "left_semi")
                rb = docidx.touched_bands(_id_pairs(repl, id_col).select("fpk"))
                rrows = docidx.read_bands(spark, rb) if rb else None
                if rrows is not None:
                    repl = repl.join(
                        rrows.select(F.col("fp").cast("string").alias("__done")),
                        repl[id_col].cast("string") == F.col("__done"),
                        "left_anti",
                    )
                replayed = repl
                fresh = fresh.join(seen, id_col, "left_anti")

        # Content fingerprint of the DEDUPED batch — ids AND winner text,
        # because the append id's job is to pin the CONTENT THAT WILL BE
        # INDEXED: a checkpointed replay (identical batch, deterministic
        # winner) converges on the same skip-if-landed names, while a
        # re-pointed checkpoint reusing a batch id with corrected text
        # gets different names and can never mix two texts' postings
        # under one document. Computed over `deduped` (not the raw batch)
        # so a raw batch that merely reorders or repeats rows of the same
        # logical content still converges. The same one-row job sizes the
        # batch: its text bytes set the partition count of the per-batch
        # frame below.
        fp_row = deduped.select(
            F.coalesce(
                F.sum(
                    F.xxhash64(
                        F.concat_ws(
                            ":", F.col(id_col).cast("string"), F.col(text_col)
                        )
                    ).cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.octet_length(text_col)), F.lit(0)).alias("bytes"),
        ).collect()[0]
        batch_fp = int(fp_row["s"]) % (1 << 60)
        n_parts = batch_partitions(spark, int(fp_row["bytes"]))
        append_id = f"srchb{batch_id:x}-{batch_fp:015x}-{int(fp_row['n']):x}"

        def append_postings(tok: DataFrame, aid: str, guard: bool) -> None:
            """Postings and forward rows of a tokenized ``(id, tk)`` frame,
            in ONE fused write job — the same ``(term, id, tf)`` rows
            under two partition columns, postings under ``aid`` and
            forward under ``aid + "f"``. ``guard=False`` (the steady-state
            batch append) relies on the deterministic append ids for
            replay idempotence; ``guard=True`` (the heal path) anti-joins
            each store at (term, doc) first — a heal's rows may have
            landed under a DIFFERENT append id (the crashed attempt's), so
            name-based skipping cannot see them, and the heal's own id
            must differ from the main append's so a heal that writes
            files can never cause the main append's same-band files to be
            skipped."""
            post = (
                tok.select(F.col(id_col), F.explode("tk").alias("term"))
                .groupBy("term", id_col)
                .agg(F.count(F.lit(1)).alias("tf"))
            )
            appends = [
                (postings, post.withColumn(
                    "tb", term_bucket(F.col("term"), n_term_buckets)), aid),
            ]
            dirty = [dirty_tb]
            if fw_ndb[0] is not None:
                appends.append(
                    (forward, post.withColumn(
                        "db", doc_bucket(F.col(id_col), int(fw_ndb[0]))),
                     aid + "f")
                )
                dirty.append(dirty_db)
            for written, parts in zip(
                append_partitioned(appends, guard=guard, tasks=n_parts), dirty
            ):
                if written is None:
                    dirty_unknown.append(True)
                else:
                    parts.update(written)

        if replayed is not None:
            # docs recorded in doclen whose postings/docidx rows the
            # crashed attempt may not have landed: guarded re-append under
            # a DISTINCT id (forward: ``hf``) — their rows may sit under
            # the crashed attempt's (unknowable) append id, and sharing the
            # main append's id would let a heal that writes files make the
            # main append's same-band files skip
            tok = replayed.select(
                F.col(id_col), T.tokens(F.col(text_col)).alias("tk")
            )
            append_postings(tok, append_id + "h", guard=True)
            _heal_exact_index(spark, docidx, _id_pairs(replayed, id_col))

        from pyspark.storagelevel import StorageLevel

        # one tokenize for postings + doclen + sidecar (batch-bounded
        # persist, unpersisted before return — the foreachBatch rule),
        # brought to the batch's own partition count first: a cached
        # plan keeps its output partitioning, so without it every stage
        # over this frame (the postings groupBy, the doclen write — one
        # file per partition — and the docidx append) would run
        # spark.sql.shuffle.partitions tasks whatever the batch holds
        enriched = (
            fresh.select(F.col(id_col), T.tokens(F.col(text_col)).alias("tk"))
            .coalesce(n_parts)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            # postings FIRST: this append is replay-idempotent, so a crash
            # anywhere before the doclen commit replays cleanly with no
            # marker. The forward append sits in the same pre-doclen
            # window under the same idempotence.
            append_postings(enriched, append_id, guard=False)
            docidx.mark_inflight(spark)
            (
                enriched.select(F.col(id_col), F.size("tk").alias("dl"))
                .filter(F.col("dl") > 0)
                .write.mode("append")
                .parquet(doclen_dir)
            )
            docidx.append(_id_pairs(enriched, id_col))
            docidx.clear_inflight(spark)
        finally:
            enriched.unpersist()
        n_done[0] += 1
        if maintain_every and n_done[0] % maintain_every == 0:
            docidx.maintain(spark, max_files_per_band=maintain_max_files)
            # postings + doclen gain one file per batch; compact the
            # buckets this stream dirtied (full walk only after a
            # committer-fallback append, which reports none)
            maintain_search_index(
                spark,
                index_dir,
                buckets=None if dirty_unknown else sorted(dirty_tb),
                forward_buckets=None if dirty_unknown else sorted(dirty_db),
                max_files_per_bucket=maintain_max_files,
            )
            dirty_tb.clear()
            dirty_db.clear()
            dirty_unknown.clear()

    return process


def pruned_postings(
    spark,
    index_dir: str,
    terms: list[str],
    id_col: str = "doc_id",
    tomb=_UNSET,
    revs=_UNSET,
    heal="repair",
) -> DataFrame:
    """(term, id, tf) posting lists for a term set, pruned to the terms'
    ``tb=`` buckets, crash-healed (a dead maintenance pass may have left
    a merged segment and its inputs simultaneously visible), and
    tombstone-filtered. The shared probe plumbing under every lexical
    query, batch or stream.

    ``heal`` is the probe's writer-contract mode: ``"repair"`` (or True
    — the owner default) runs the crash heal; ``"detect"`` NEVER mutates
    — it raises ``InFlightRecoveryError`` on an unhealed journal, for
    read-only consumers outside the single-writer contract; ``False``
    skips (a composite caller already did it).

    The probe's fixed overhead is engineered out of the hot path
    (measured ~0.6 s of a ~1.2 s wall before round 12's tuning):

    - the bucket of each query term is computed DRIVER-SIDE with the
      pure-Python twin of the writer's ``pmod(xxhash64(term), n)``
      expression (``functions/hashing.py``, engine-parity pinned by a
      property test) — evaluating it through the engine was a whole job
      submission per probe;
    - the scan reads the bucket directories by EXPLICIT path (one root
      readdir filters to buckets that exist), so DataFrame creation
      never lists or footer-reads the other n_term_buckets − |terms|
      directories; the residual ``tb IN`` filter keeps the pruning
      visible in the plan (and harmless if a caller widens the paths).

    ``tomb``/``heal`` let a composite probe (``bm25_over_index``) resolve
    the tombstone set and run the crash heal ONCE for all its reads
    instead of per helper."""
    from ..functions.hashing import pmod_bucket, xxhash64 as _xxh

    meta = load_index_meta(spark, index_dir)
    ntb = int(meta["n_term_buckets"])
    tbs = sorted({pmod_bucket(_xxh(t), ntb) for t in terms})
    if heal == "detect":
        detect_search_index(spark, index_dir, buckets=tbs)
    elif heal:
        recover_search_index(spark, index_dir, buckets=tbs)
    pdir = _postings_dir(index_dir)
    paths = _live_bucket_paths(
        spark, index_dir, pdir, [f"tb={b}" for b in tbs]
    )
    if not paths:
        # type the empty frame from doclen's ACTUAL id field when one is
        # readable — a pre-advisory string-keyed store probed while its
        # buckets are empty would otherwise get the advisory default
        # (bigint) and join doclen through an implicit cast
        idt = None
        try:
            dl = spark.read.parquet(_doclen_dir(index_dir))
            idt = dl.schema[id_col].dataType.simpleString()
        except Exception:  # noqa: BLE001 - absent/dataless: fall back
            pass
        if idt is None:
            idt = meta.get(
                "id_type", "bigint"
            )  # advisory, recorded at index creation
        postings = spark.createDataFrame(
            [], f"term string, {id_col} {idt}, tf bigint"
        )
    else:
        postings = (
            spark.read.option("basePath", pdir)
            .parquet(*paths)
            .filter(F.col("tb").isin(tbs) & F.col("term").isin(terms))
            .select("term", id_col, "tf")
        )
    # revised docs rank under their LATEST content everywhere (even when
    # the main buckets are empty — an insert-via-revise has no main rows)
    if revs is _UNSET:
        revs = read_revisions(spark, index_dir, id_col)
    postings = apply_revisions(
        spark, index_dir, postings, id_col, revs,
        _rev_terms_dir(index_dir), ["term", id_col, "tf"],
        where=F.col("term").isin(terms),
        heal="detect" if heal == "detect" else "repair",
    )
    if tomb is _UNSET:
        tomb = _search_tombstones(spark, index_dir, id_col, heal=heal)
    if tomb is not None:
        postings = postings.join(tomb, id_col, "left_anti")
    return postings


def index_doclen(
    spark, index_dir: str, id_col: str = "doc_id", tomb=_UNSET,
    revs=_UNSET, heal="repair",
) -> DataFrame:
    """The doclen sidecar minus tombstoned docs — so BM25's corpus stats
    (N, avgdl) and df exclude logically-deleted docs exactly as a
    post-purge index would. Every batch consumer of the shared store
    must take doclen from HERE (not a raw directory read), or its scores
    drift across the physical purge."""
    if heal == "detect":
        detect_search_index(spark, index_dir, buckets=[])
    elif heal:
        recover_search_index(spark, index_dir, buckets=[])
    doclen = read_or_empty(spark, _doclen_dir(index_dir))
    if doclen is None:
        # absent or dataless (an erase-everything purge): empty, typed
        # from the layout meta's advisory id_type
        idt = load_index_meta(spark, index_dir).get("id_type", "bigint")
        doclen = spark.createDataFrame([], f"{id_col} {idt}, dl bigint")
    if revs is _UNSET:
        revs = read_revisions(spark, index_dir, id_col)
    doclen = apply_revisions(
        spark, index_dir, doclen, id_col, revs,
        _rev_doclen_dir(index_dir), [id_col, "dl"],
        heal="detect" if heal == "detect" else "repair",
    )
    if tomb is _UNSET:
        tomb = _search_tombstones(spark, index_dir, id_col, heal=heal)
    if tomb is not None:
        doclen = doclen.join(tomb, id_col, "left_anti")
    return doclen


def index_postings_full(
    spark, index_dir: str, id_col: str = "doc_id", tomb=_UNSET, revs=_UNSET
) -> DataFrame:
    """The FULL postings frame (every bucket) minus tombstoned docs — for
    passes whose term set is data-derived rather than query-derived
    (Rocchio's candidate-vocabulary scoring), which cannot prune by term.
    Corpus-proportional by construction; the tombstone anti-join keeps
    even these passes purge-invariant."""
    recover_search_index(spark, index_dir)
    df = spark.read.parquet(_postings_dir(index_dir)).select(
        "term", id_col, "tf"
    )
    if revs is _UNSET:
        revs = read_revisions(spark, index_dir, id_col)
    df = apply_revisions(
        spark, index_dir, df, id_col, revs,
        _rev_terms_dir(index_dir), ["term", id_col, "tf"],
    )
    if tomb is _UNSET:
        tomb = _search_tombstones(spark, index_dir, id_col)
    if tomb is not None:
        df = df.join(tomb, id_col, "left_anti")
    return df


def bm25_over_index(
    spark,
    index_dir: str,
    terms: list[str],
    topn: int = 10,
    id_col: str = "doc_id",
    heal: str = "repair",
) -> DataFrame:
    """BM25 top-``topn`` over the shared index layout (stream-maintained
    or batch-staged — one artifact since round 12): the query terms'
    buckets are computed from the persisted layout meta and pushed as a
    partition-pruning ``isin`` on ``tb`` — the scan touches ≤ |terms|
    bucket directories of the postings store, never the corpus.
    Tombstoned docs are excluded from hits, df, and corpus stats (the
    ranking a post-purge index produces, so purge timing never changes
    results). Scoring is the batch scorer (``operators/search.bm25_topk``),
    so stream-maintained and batch-staged indexes rank identically."""
    from ..operators.search import bm25_topk

    # one tombstone resolution + one heal/detect pass for both reads
    # (pruned_postings' pass covers doclen AND the query buckets in
    # either mode, so index_doclen skips its own)
    tomb = _search_tombstones(spark, index_dir, id_col, heal=heal)
    revs = read_revisions(spark, index_dir, id_col)
    postings = pruned_postings(
        spark, index_dir, terms, id_col=id_col, tomb=tomb, revs=revs,
        heal=heal,
    )
    doclen = index_doclen(
        spark, index_dir, id_col=id_col, tomb=tomb, revs=revs,
        heal="detect" if heal == "detect" else False,
    )
    return bm25_topk(postings, doclen, terms, id_col=id_col, topn=topn)
