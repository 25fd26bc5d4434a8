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
  indexed doc ids (the exact-dedup sidecar's fp-only layout with
  ``fp = cast(id as string)``), so the per-batch "already indexed?"
  replay guard reads only the batch's OWN id bands instead of the whole
  doclen column.
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

The stream is a :class:`dedup_stream.DedupStream` family keyed by
document id, and that lifecycle defines its steps once: the corpus is
``doclen``, the exact sidecar ``_docidx``, the survivor ``min(text)``
per id. The family's hooks open the index (crash heal, the layout meta
below, the forward settle), pin the batch's append id, append postings
and forward rows before the in-flight marker, re-append them guarded on
the heal path, compact them on the maintenance tick, and erase them on
the lifecycle's purge (``make_search_index_processor(idx).purge``: the
one physical erase of every stream store).

Crash matrix — the contract those steps keep (postings FIRST — that
append is replay-idempotent, so every window before the doclen commit
replays cleanly with no marker at all; the marker brackets only doclen
→ docidx):
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

Per-batch cost follows the batch, and the batch's input is evaluated
once: the lifecycle persists the one signatures frame (deduped text,
tokens, ``fp``), brought to :func:`banded_index.planned_partitions` of
the batch before it is cached (adaptive execution does not coalesce a
cached plan), and the append-id pin, the replay guard's touched bands
and every write read it. The job that pins
the append id also sums the batch's text bytes; the postings + forward
write takes their :func:`banded_index.batch_partitions` count
explicitly, so it holds with adaptive query execution off (a stateful
upstream); the aggregation's reduce side is left to AQE's coalescing.

Maintenance: every ``maintain_every`` batches the stream compacts the
postings/doclen directories (:func:`maintain_search_index`, the
family's tick) AND the ``_docidx`` sidecar (the banded index's own
per-band maintenance, the lifecycle's) — each batch
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

from .. import fsio
from .banded_index import (
    PartitionedAppend,
    append_partitioned,
    batch_partitions,
    partitions_holding,
    planned_partitions,
    read_or_empty,
)
from .revisions import (
    absorb,
    apply_revisions,
    burn,
    latest_rows,
    markers_dir,
    read_revisions,
    revise,
    sidecar_dir,
)
from .state_store import (
    _memo_for,
    compact_small_files,
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
    meta = fsio.read_json(spark, index_dir.rstrip("/") + "/" + _META)
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
    pdir = _postings_dir(index_dir)
    return [
        f"{pdir}/{name}"
        for name in fsio.list_names(spark, pdir)
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
    once this session are skipped via the probe memo (sound: only owner
    ops create new journals — maintenance, and the processor's ``purge``
    — and each invalidates the memo at entry: the writer lease bumps the
    store generation, and maintenance and the purge's ``erase`` hook drop
    it outright). ``memoize=False`` is for those owner ops themselves:
    they are ABOUT to write new journals, so their pre-pass must neither
    trust nor populate the memo."""
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
    may journal no finals and delete every input) — schema inference over
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
        existing = set(fsio.list_names(spark, root_dir))
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
    meta = load_index_meta(spark, index_dir)
    id_col = meta["id_col"]
    ndb = int(meta.get("n_doc_buckets", n_doc_buckets))
    fdir = _forward_dir(index_dir)
    if "n_doc_buckets" in meta and fsio.exists(spark, fdir):
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
        (
            post.select("term", id_col, "tf")
            .withColumn("db", doc_bucket(F.col(id_col), ndb))
            .repartition("db")
            .write.partitionBy("db")
            .mode("overwrite")
            .parquet(tmp)
        )
        fsio.delete(spark, fdir)  # stale partial from a crashed settle
        if not fsio.rename(spark, tmp, fdir):
            raise RuntimeError(
                f"forward settle: rename {tmp} -> {fdir} failed"
            )
    if "n_doc_buckets" not in meta:
        meta2 = dict(meta)
        meta2["n_doc_buckets"] = ndb
        fsio.write_json(
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
        tomb = _search_tombstones(spark, index_dir, id_col)
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
    meta = load_index_meta(spark, index_dir)
    id_col = meta["id_col"]
    idt = meta.get("id_type", "bigint")
    ntb = int(meta["n_term_buckets"])
    pdir, fdir = _postings_dir(index_dir), _forward_dir(index_dir)
    forward = "n_doc_buckets" in meta and fsio.exists(spark, fdir)

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
        tbs = partitions_holding(spark, pdir, rev_ids, [id_col], "tb") | {
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
    is the processor's ``purge`` (:meth:`dedup_stream.DedupStream.purge`,
    which erases doclen, then every derived store, then ``_docidx``).
    Returns how many of the ids were
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


def _search_tombstones(spark, index_dir: str, id_col: str):
    """Distinct tombstoned ids as a (id_col) frame, or None. The frame is
    broadcast-hinted only while the set is small (read_tombstones'
    bounded-broadcast escape) — consumers join it as is."""
    from .tombstones import read_tombstones

    return read_tombstones(spark, index_dir, cols=[id_col])


def _erase_derived(spark, index_dir: str, doomed: DataFrame, clear: bool) -> None:
    """The family's purge hook (``DedupFamily.erase``), run after the
    doclen erase: the doomed ids' rows leave the postings buckets that
    hold them (one thin scan names them), the forward buckets their ids
    hash to and the ``_rev`` sidecars, through the compactor's erase
    form; with ``clear=True`` their revision markers go too, or a
    re-ingested id would stay hidden behind a stale marker whose
    ``_rev`` rows are gone."""
    meta = load_index_meta(spark, index_dir)
    id_col = meta["id_col"]
    # the purge rewrites and empties directories: probes re-verify from
    # disk; heal every crashed compaction before the scan reads them
    invalidate_probe_memo(index_dir)
    recover_search_index(spark, index_dir, memoize=False)
    pdir, fdir = _postings_dir(index_dir), _forward_dir(index_dir)
    tbs = partitions_holding(spark, pdir, doomed, [id_col], "tb")
    dirs = [f"{pdir}/tb={b}" for b in sorted(tbs)]
    if "n_doc_buckets" in meta and fsio.exists(spark, fdir):
        db = doc_bucket(F.col(id_col), int(meta["n_doc_buckets"]))
        dbs = sorted(r[0] for r in doomed.select(db).distinct().collect())
        dirs += [f"{fdir}/db={b}" for b in dbs]
    # a revised-then-erased doc also has rows in the _rev sidecars
    dirs += [_rev_terms_dir(index_dir), _rev_doclen_dir(index_dir)]
    for d in dirs:
        compact_small_files(
            spark, d, exclude=doomed, exclude_cols=[id_col], erase=True
        )
    mdir = markers_dir(index_dir)
    if clear and fsio.exists(spark, mdir):
        compact_small_files(
            spark, mdir, exclude=doomed, exclude_cols=[id_col], erase=True,
            transform=lambda df: df.distinct(),
        )
        # a fold that removed every marker leaves a dataless dir or a
        # 0-row file: drop it so read_revisions sees a clean absence
        if not has_data_files(spark, mdir) or spark.read.parquet(mdir).isEmpty():
            fsio.delete(spark, mdir)


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
    # maintenance can crash mid-compaction (new journals) and can empty a
    # bucket (all-rows-tombstoned merge): invalidate BEFORE touching
    # anything so a death anywhere leaves probes re-verifying from disk
    invalidate_probe_memo(index_dir)
    recover_search_index(spark, index_dir, buckets, memoize=False)
    meta = fsio.read_json(spark, index_dir.rstrip("/") + "/" + _META)
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
            dirs += [
                f"{fdir}/{n}"
                for n in fsio.list_names(spark, fdir)
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
    index_dir: str, id_col: str = "doc_id", text_col: str = "text",
    n_term_buckets: int = 64, n_bands: int | None = None,
    maintain_every: int | None = 16, maintain_max_files: int = 8,
    n_doc_buckets: int | None = 32, fs_options: dict | None = None,
):
    """The ``foreachBatch`` processor maintaining the index under
    ``index_dir`` (probe with :func:`bm25_over_index`): the
    :class:`dedup_stream.DedupStream` family keyed by document id that
    the module docstring maps out. Run it with ``state_store.start_stream``
    or drive micro-batches directly. The index is append-only per id: a
    replayed or re-sent id is skipped (its first indexed text wins); a
    changed document goes through :func:`revise_search_document` or a
    rebuild. ``n_doc_buckets`` keeps the forward sidecar (settled at
    open; the stored count wins; None disables)."""
    from ..functions import text as T
    from .dedup_stream import DedupFamily, DedupStream

    # both stores key a row by (term, doc): the guard's anti-join key
    stores = [
        PartitionedAppend(d, part, fs_options, key_cols=["term", id_col])
        for d, part in ((_postings_dir(index_dir), "tb"), (_forward_dir(index_dir), "db"))
    ]
    # the stored forward bucket count; the batch's append id and task
    # count; the (postings, forward) buckets dirtied since the last tick
    # (None after a committer write, which reports none: walk them all)
    st: dict = {"ndb": None, "aid": None, "parts": None, "dirty": [set(), set()]}

    def open_index(spark, batch_df):
        recover_search_index(spark, index_dir)
        idt = batch_df.schema[id_col].dataType.simpleString()
        _check_meta(spark, index_dir, n_term_buckets, id_col, idt, n_doc_buckets)
        st["ndb"] = load_index_meta(spark, index_dir).get("n_doc_buckets")

    def begin(spark, batch_id, docs):
        # the content pin of the deduped batch (pre-burn: a delete between
        # an attempt and its replay must not rename its appends), its size
        h = F.xxhash64(F.concat_ws(":", F.col(id_col).cast("string"), F.col(text_col)))
        row = docs.select(
            F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")),
            F.count(F.lit(1)),
            F.coalesce(F.sum(F.octet_length(text_col)), F.lit(0)),
        ).collect()[0]
        st["aid"] = f"srchb{batch_id:x}-{int(row[0]) % (1 << 60):015x}-{row[1]:x}"
        st["parts"] = batch_partitions(spark, int(row[2]))

    def append(docs, aid, guard):
        post = (
            docs.select(F.col(id_col), F.explode("tk").alias("term"))
            .groupBy("term", id_col)
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        frames = [post.withColumn("tb", term_bucket(F.col("term"), n_term_buckets))]
        if st["ndb"] is not None:
            frames.append(post.withColumn("db", doc_bucket(F.col(id_col), int(st["ndb"]))))
        written = append_partitioned(
            [(s, f, aid + x) for s, f, x in zip(stores, frames, ("", "f"))],
            guard=guard, tasks=st["parts"],
        )
        if None in written:
            st["dirty"] = None
        elif st["dirty"] is not None:
            for dirty, w in zip(st["dirty"], written):
                dirty.update(w)

    def tick(spark):
        d = st["dirty"]
        maintain_search_index(
            spark, index_dir, d and sorted(d[0]), maintain_max_files,
            forward_buckets=d and sorted(d[1]),
        )
        st["dirty"] = [set(), set()]

    family = DedupFamily(
        signatures=lambda d: d.select(
            id_col, text_col, F.col(id_col).cast("string").alias("fp"),
            T.tokens(F.col(text_col)).alias("tk")),
        corpus=_doclen_dir(index_dir),
        exact=(_docidx_path(index_dir), _SCHEMA_TAG),
        # min(text) per id, sized before the lifecycle caches it
        survivors=lambda b: b.groupBy(id_col).agg(F.min(text_col).alias(text_col))
        .coalesce(planned_partitions(b)),
        stored=lambda dl: dl.withColumn("fp", F.col(id_col).cast("string")),
        corpus_rows=lambda f: f.select(id_col, F.size("tk").alias("dl")).filter("dl > 0"),
        open=open_index,
        begin=begin,
        pre_commit=lambda spark, f: append(f, st["aid"], False),
        heal=lambda spark, f: append(f, st["aid"] + "h", True),
        tick=tick,
        erase=lambda spark, doomed, clear: _erase_derived(spark, index_dir, doomed, clear),
    )
    return DedupStream(
        index_dir, family, n_bands=n_bands, maintain_every=maintain_every,
        maintain_max_files=maintain_max_files, fs_options=fs_options,
    )


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
        tomb = _search_tombstones(spark, index_dir, id_col)
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
        tomb = _search_tombstones(spark, index_dir, id_col)
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
    tomb = _search_tombstones(spark, index_dir, id_col)
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
