"""Round 13: the doc-major FORWARD sidecar (Rocchio's candidate pass reads
≤ fb_k doc-buckets instead of the whole inverted store) and the UPDATE
path (revise_search_document — versioned identity, probes resolve
latest-rev). Reference behavior matched: upsert overwrites + re-embeds in
place (/root/reference/src/loader/service.py:324-422)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fest_vibes_ai_etl_spark.operators.search import (
    load_or_build_postings_store,
    pruned_postings_for_terms,
    rocchio_expanded_topk,
)
from fest_vibes_ai_etl_spark.streaming.incremental_search import (
    bm25_over_index,
    delete_from_search_index,
    forward_terms_for_docs,
    index_doclen,
    index_postings_full,
    load_index_meta,
    maintain_search_index,
    revise_search_document,
    settle_forward_index,
)
from fest_vibes_ai_etl_spark.streaming.revisions import read_revisions
from fest_vibes_ai_etl_spark.streaming.state_store import invalidate_probe_memo
from fest_vibes_ai_etl_spark.streaming.tombstones import read_tombstones


def _docs(spark, n=80):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("merge hash window alpha beta gamma doc "), F.col("id")
        ).alias("text"),
    )


def _store(spark, tmp_path, n=80):
    store = str(tmp_path / "store")
    load_or_build_postings_store(spark, _docs(spark, n), str(tmp_path), store_path=store)
    return store


# --- forward sidecar ---------------------------------------------------------


def test_forward_sidecar_row_parity_and_bucket_pruning(spark, tmp_path):
    """The forward sidecar holds exactly the postings rows, and a probe
    for k docs reads ONLY those docs' db= buckets (plan-locked via the
    scan's input files)."""
    store = _store(spark, tmp_path)
    meta = load_index_meta(spark, store)
    assert "n_doc_buckets" in meta  # staged at build
    ids = [3, 17, 42]
    fwd = forward_terms_for_docs(spark, store, ids)
    via_postings = (
        index_postings_full(spark, store)
        .filter(F.col("doc_id").isin(ids))
        .select("term", "doc_id", "tf")
    )
    assert {tuple(r) for r in fwd.collect()} == {
        tuple(r) for r in via_postings.collect()
    }
    # plan lock: every file the probe reads lives under one of the ≤ k
    # requested doc-buckets — never the postings store, never other dbs
    from fest_vibes_ai_etl_spark.functions.hashing import pmod_bucket, xxhash64

    ndb = int(meta["n_doc_buckets"])
    allowed = {f"db={pmod_bucket(xxhash64(str(i)), ndb)}" for i in ids}
    raw = forward_terms_for_docs(spark, store, ids)
    files = raw.inputFiles()
    assert files, "probe read no files"
    for f in files:
        assert "/forward/" in f, f
        assert any(f"/{a}/" in f for a in allowed), f


def test_settle_backfills_pre_forward_store(spark, tmp_path):
    """A round-12 store (no forward dir, no meta gate) gains the sidecar
    on settle; probes refuse before, answer identically after."""
    import shutil

    from fest_vibes_ai_etl_spark import fsio

    store = _store(spark, tmp_path)
    # regress the store to the pre-forward layout
    shutil.rmtree(os.path.join(store, "forward"))
    meta = dict(load_index_meta(spark, store))
    meta.pop("n_doc_buckets")
    fsio.write_json(spark, os.path.join(store, "_meta.json"), meta)
    invalidate_probe_memo(store)

    from fest_vibes_ai_etl_spark.streaming.incremental_search import (
        SearchIndexLayoutError,
    )

    with pytest.raises(SearchIndexLayoutError, match="forward"):
        forward_terms_for_docs(spark, store, [1, 2])
    settle_forward_index(spark, store, 32)
    got = forward_terms_for_docs(spark, store, [1, 2])
    want = (
        index_postings_full(spark, store)
        .filter(F.col("doc_id").isin([1, 2]))
        .select("term", "doc_id", "tf")
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_rocchio_forward_path_equals_full_scan_path(spark, tmp_path):
    """The doc-major candidate pass is a pure plan change: Rocchio with
    forward+pruned returns row-identical results to the full-postings
    formulation."""
    store = _store(spark, tmp_path)
    terms = ["merge", "hash", "window"]
    doclen = index_doclen(spark, store)
    full = rocchio_expanded_topk(
        index_postings_full(spark, store), doclen, terms,
        fb_k=5, expand_n=5, beta=0.5, topn=10,
        pruned=lambda ts: pruned_postings_for_terms(spark, store, ts),
    ).collect()
    fwd = rocchio_expanded_topk(
        None, doclen, terms,
        fb_k=5, expand_n=5, beta=0.5, topn=10,
        pruned=lambda ts: pruned_postings_for_terms(spark, store, ts),
        forward=lambda ids: forward_terms_for_docs(spark, store, ids),
    ).collect()
    assert fwd == full


def test_rocchio_postings_none_contract_errors(spark, tmp_path):
    """postings=None without pruned (or without forward) is a loud
    up-front ValueError, not an opaque NoneType failure mid-plan."""
    store = _store(spark, tmp_path)
    doclen = index_doclen(spark, store)
    with pytest.raises(ValueError, match="requires pruned"):
        rocchio_expanded_topk(
            None, doclen, ["merge"], fb_k=5, expand_n=5, beta=0.5, topn=10,
            forward=lambda ids: forward_terms_for_docs(spark, store, ids),
        )
    with pytest.raises(ValueError, match="requires forward"):
        rocchio_expanded_topk(
            None, doclen, ["merge"], fb_k=5, expand_n=5, beta=0.5, topn=10,
            pruned=lambda ts: pruned_postings_for_terms(spark, store, ts),
        )


# --- revise (the UPDATE path) ------------------------------------------------


def test_revise_serves_new_content_and_updates_stats(spark, tmp_path):
    """After revise, the new terms retrieve the doc, the replaced terms
    no longer do, and BM25 equals an index built from the edited corpus
    (tf, df, dl AND corpus stats all move)."""
    store = _store(spark, tmp_path)
    rev = revise_search_document(
        spark, store, 7, "zebra quokka zebra unique tokens only"
    )
    assert rev == 1
    # the new vocabulary retrieves doc 7
    hits = {r[0] for r in bm25_over_index(spark, store, ["zebra"], topn=5).collect()}
    assert hits == {7}
    # the old vocabulary no longer reaches it
    hits = {r[0] for r in bm25_over_index(spark, store, ["merge"], topn=200).collect()}
    assert 7 not in hits
    # full equality against a rebuilt index over the edited corpus
    edited = _docs(spark).withColumn(
        "text",
        F.when(
            F.col("doc_id") == 7, F.lit("zebra quokka zebra unique tokens only")
        ).otherwise(F.col("text")),
    )
    rebuilt = str(tmp_path / "rebuilt")
    load_or_build_postings_store(spark, edited, str(tmp_path), store_path=rebuilt)
    for terms in (["merge", "hash"], ["zebra", "alpha"], ["quokka"]):
        got = bm25_over_index(spark, store, terms, topn=20).collect()
        want = bm25_over_index(spark, rebuilt, terms, topn=20).collect()
        assert got == want, terms


def test_revise_latest_rev_wins_and_insert_via_revise(spark, tmp_path):
    store = _store(spark, tmp_path)
    assert revise_search_document(spark, store, 5, "first edition words") == 1
    assert revise_search_document(spark, store, 5, "second edition words") == 2
    hits = {r[0] for r in bm25_over_index(spark, store, ["second"], topn=5).collect()}
    assert hits == {5}
    assert bm25_over_index(spark, store, ["first"], topn=5).collect() == []
    # an id the index never saw: upsert semantics
    assert revise_search_document(spark, store, 9999, "brandnew payload") == 1
    hits = {r[0] for r in bm25_over_index(spark, store, ["brandnew"], topn=5).collect()}
    assert hits == {9999}
    # doclen reflects it (N grows by one)
    n = index_doclen(spark, store).count()
    assert n == 81


def test_revise_refuses_burned_ids_and_delete_beats_revise(spark, tmp_path):
    store = _store(spark, tmp_path)
    delete_from_search_index(spark, store, [11])
    with pytest.raises(ValueError, match="tombstoned"):
        revise_search_document(spark, store, 11, "resurrection attempt")
    # delete AFTER revise wins everywhere
    revise_search_document(spark, store, 12, "ephemeral content words")
    delete_from_search_index(spark, store, [12])
    assert bm25_over_index(spark, store, ["ephemeral"], topn=5).collect() == []
    assert (
        index_doclen(spark, store).filter(F.col("doc_id") == 12).count() == 0
    )


def test_revise_crash_rerun_converges(spark, tmp_path):
    """Marker-last crash discipline: rows landed without the marker are
    invisible; re-running the revise fills nothing twice and lands the
    marker — scores equal a single clean revise."""
    import shutil

    store = _store(spark, tmp_path)
    clean = str(tmp_path / "clean")
    load_or_build_postings_store(spark, _docs(spark), str(tmp_path), store_path=clean)
    revise_search_document(spark, clean, 4, "crashproof words here")

    revise_search_document(spark, store, 4, "crashproof words here")
    # simulate the crash: marker directory vanishes, sidecar rows remain
    shutil.rmtree(store.rstrip("/") + "_revisions")
    invalidate_probe_memo(store)
    # invisible again (old content serves)
    hits = {r[0] for r in bm25_over_index(spark, store, ["merge"], topn=200).collect()}
    assert 4 in hits
    # re-run converges: no duplicate rows, marker lands
    assert revise_search_document(spark, store, 4, "crashproof words here") == 1
    got = bm25_over_index(spark, store, ["crashproof", "merge"], topn=20).collect()
    want = bm25_over_index(spark, clean, ["crashproof", "merge"], topn=20).collect()
    assert got == want
    raw = spark.read.parquet(store.rstrip("/") + "_rev/terms")
    assert raw.count() == raw.distinct().count()


def test_revise_survives_maintenance_and_rocchio_sees_it(spark, tmp_path):
    """Maintenance after a revise keeps probe parity, and the forward
    path's Rocchio resolves revisions too (the candidate pass reads the
    revised doc's CURRENT terms)."""
    store = _store(spark, tmp_path)
    revise_search_document(
        spark, store, 2, "merge hash window quokka quokka quokka feedback"
    )
    before = bm25_over_index(spark, store, ["merge", "quokka"], topn=20).collect()
    maintain_search_index(spark, store, max_files_per_bucket=0)
    after = bm25_over_index(spark, store, ["merge", "quokka"], topn=20).collect()
    assert after == before
    # forward probe serves the revised terms for doc 2
    fwd = forward_terms_for_docs(spark, store, [2])
    terms = {r["term"] for r in fwd.collect()}
    assert "quokka" in terms and "alpha" not in terms
    assert read_revisions(spark, store).count() == 1


def test_rocchio_candidate_pass_plan_locked_to_fbk_buckets(spark, tmp_path, monkeypatch):
    """The catalog query's candidate-vocabulary pass is PLAN-LOCKED to the
    feedback docs' forward buckets: rocchio calls forward_terms_for_docs
    exactly once, with exactly fb_k ids, and the frame it returns reads
    only those ids' db= buckets — never the postings store."""
    from fest_vibes_ai_etl_spark.functions.hashing import pmod_bucket, xxhash64
    from fest_vibes_ai_etl_spark.streaming import incremental_search as inc

    store = _store(spark, tmp_path)
    meta = load_index_meta(spark, store)
    ndb = int(meta["n_doc_buckets"])
    calls = []
    real = inc.forward_terms_for_docs

    def spy(sp, idx, ids, **kw):
        out = real(sp, idx, ids, **kw)
        calls.append((list(ids), out.inputFiles()))
        return out

    monkeypatch.setattr(inc, "forward_terms_for_docs", spy)
    fb_k = 4
    rocchio_expanded_topk(
        None, index_doclen(spark, store), ["merge", "hash"],
        fb_k=fb_k, expand_n=3, beta=0.5, topn=10,
        pruned=lambda ts: pruned_postings_for_terms(spark, store, ts),
        forward=lambda ids: spy(spark, store, ids),
    ).collect()
    assert len(calls) == 1
    ids, files = calls[0]
    assert len(ids) == fb_k
    allowed = {f"db={pmod_bucket(xxhash64(str(i)), ndb)}" for i in ids}
    assert files
    for f in files:
        assert "/forward/" in f and any(f"/{a}/" in f for a in allowed), f


def test_revise_ivf_vector_updates_probe_results(spark, tmp_path):
    """The IVF family's UPDATE path: a revised vector ranks under its NEW
    embedding (full-probe exact equals brute force over the edited
    corpus), latest rev wins, burned ids refuse, delete beats revise, and
    a quantizer-fingerprint mismatch refuses loudly."""
    import numpy as np

    from fest_vibes_ai_etl_spark.operators import ivf
    from fest_vibes_ai_etl_spark.operators.similarity import topk_cosine

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, centers = ivf.build_ivf_index(emb, k=4, seed=1, fit_sample=60)
    idx = str(tmp_path / "ivfadd")
    proc = ivf.make_index_add_processor(idx, centers)
    proc(emb, 0)

    # revise vec 9 to vec 0's embedding: full-probe top-k must equal
    # brute force over the edited corpus
    new_vec = rows[0][1]
    assert ivf.revise_ivf_vector(spark, idx, centers, 9, new_vec) == 1
    view = ivf.read_ivf_index(spark, idx)
    queries = emb.filter(F.col("vec_id") < 3)
    got = (
        ivf.ivf_topk(view, centers, queries, topk=5, nprobe=4)
        .orderBy("query_id", "rk")
        .collect()
    )
    edited = spark.createDataFrame(
        [(i, new_vec if i == 9 else v) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    want = (
        topk_cosine(edited, queries, k=5).orderBy("query_id", "rk").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # query 0's top hit is the revised twin at cosine 1.0
    assert got[0]["vec_id"] == 9 and got[0]["cosine"] == 1.0

    # latest rev wins
    assert ivf.revise_ivf_vector(spark, idx, centers, 9, rows[1][1]) == 2
    view2 = ivf.read_ivf_index(spark, idx)
    top1 = (
        ivf.ivf_topk(view2, centers, emb.filter("vec_id = 1"), topk=1, nprobe=4)
        .collect()[0]
    )
    assert top1["vec_id"] == 9 and top1["cosine"] == 1.0

    # delete beats revise; burned ids refuse further revises
    ivf.delete_from_ivf_index(spark, idx, [9])
    assert ivf.read_ivf_index(spark, idx).filter("vec_id = 9").count() == 0
    with pytest.raises(ValueError, match="tombstoned"):
        ivf.revise_ivf_vector(spark, idx, centers, 9, new_vec)

    # a different quantizer is a rebuild, never a revise
    _, other = ivf.build_ivf_index(emb, k=4, seed=99, fit_sample=60)
    with pytest.raises(ivf.IVFIndexLayoutError, match="fingerprint"):
        ivf.revise_ivf_vector(spark, idx, other, 3, new_vec)



def _ivf_vectors(spark, n: int, k: int):
    """(rows, emb frame, centers) for n seeded 8-d vectors under a k-cell
    quantizer."""
    import numpy as np

    from fest_vibes_ai_etl_spark.operators import ivf

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, centers = ivf.build_ivf_index(emb, k=k, seed=1, fit_sample=n)
    return rows, emb, centers


def test_revise_ivf_retry_with_different_vector_never_mixes(spark, tmp_path):
    """The IVF twin of the search retry test: a revise whose marker never
    landed, retried with a DIFFERENT vector, purges the dead attempt's
    (id, rev) residue — the sidecar holds exactly one row for (9, 1), and
    a full-probe top-k equals brute force over the corrected corpus."""
    import shutil

    from fest_vibes_ai_etl_spark.operators import ivf
    from fest_vibes_ai_etl_spark.operators.similarity import topk_cosine

    rows, emb, centers = _ivf_vectors(spark, 60, 4)
    idx = str(tmp_path / "ivfadd")
    ivf.make_index_add_processor(idx, centers)(emb, 0)

    assert ivf.revise_ivf_vector(spark, idx, centers, 9, rows[0][1]) == 1
    # the crash: the marker directory vanishes, the sidecar row remains
    shutil.rmtree(idx + "_revisions")
    invalidate_probe_memo(idx)
    corrected = rows[1][1]
    assert ivf.revise_ivf_vector(spark, idx, centers, 9, corrected) == 1

    side = spark.read.parquet(idx + "_rev").filter("vec_id = 9 AND rev = 1")
    assert side.count() == 1
    queries = emb.filter(F.col("vec_id") < 3)
    got = (
        ivf.ivf_topk(ivf.read_ivf_index(spark, idx), centers, queries,
                     topk=5, nprobe=4)
        .orderBy("query_id", "rk")
        .collect()
    )
    edited = spark.createDataFrame(
        [(i, corrected if i == 9 else v) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    want = topk_cosine(edited, queries, k=5).orderBy("query_id", "rk").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_revise_ivf_into_store_without_cell_data(spark, tmp_path):
    """A meta-but-no-cell-data store (an empty first add batch) is a legal
    layout: a vector inserted there by revise is served by the resolved
    view, counted by delete, and gone after it. A store with neither a
    meta nor cell data refuses a read with a typed error."""
    from fest_vibes_ai_etl_spark.operators import ivf

    rows, emb, centers = _ivf_vectors(spark, 40, 4)
    idx = str(tmp_path / "ivfadd")
    ivf.make_index_add_processor(idx, centers)(emb.limit(0), 0)
    assert os.path.exists(idx + "/_meta.json")

    # insert id 5 with vec 6's embedding: query 6 finds it at cosine 1
    assert ivf.revise_ivf_vector(spark, idx, centers, 5, rows[6][1]) == 1
    view = ivf.read_ivf_index(spark, idx)
    assert [r["vec_id"] for r in view.collect()] == [5]
    top1 = ivf.ivf_topk(
        view, centers, emb.filter("vec_id = 6"), topk=1, nprobe=4
    ).collect()[0]
    assert top1["vec_id"] == 5 and top1["cosine"] == pytest.approx(1.0)
    assert ivf.delete_from_ivf_index(spark, idx, [5]) == 1
    assert ivf.read_ivf_index(spark, idx).count() == 0
    # with neither a meta nor cell data there is no index to read, but a
    # delete racing the first batch still burns its ids
    never = str(tmp_path / "never_written")
    with pytest.raises(ivf.IVFIndexLayoutError, match="not an IVF index"):
        ivf.read_ivf_index(spark, never)
    assert ivf.delete_from_ivf_index(spark, never, [5]) == 0
    assert os.path.isdir(never + "_tombstones")

def test_revise_retry_with_different_text_never_mixes(spark, tmp_path):
    """A dead revise attempt's rows must not weld with a retry that
    carries corrected text: the retry purges the (id, rev) residue and
    serves ONLY the new text (regression: the old fill-the-holes guard
    produced a chimera revision mixing both texts' tf/dl)."""
    import shutil

    store = _store(spark, tmp_path)
    clean = str(tmp_path / "clean")
    load_or_build_postings_store(spark, _docs(spark), str(tmp_path), store_path=clean)
    revise_search_document(spark, clean, 4, "corrected text words")

    # attempt 1 lands rows, "dies" before the marker
    revise_search_document(spark, store, 4, "wrongfirst attempt words")
    shutil.rmtree(store.rstrip("/") + "_revisions")
    invalidate_probe_memo(store)
    # retry with DIFFERENT text
    assert revise_search_document(spark, store, 4, "corrected text words") == 1
    # no trace of the dead attempt's vocabulary, full parity with clean
    assert bm25_over_index(spark, store, ["wrongfirst"], topn=5).collect() == []
    for terms in (["corrected"], ["merge", "corrected"]):
        got = bm25_over_index(spark, store, terms, topn=20).collect()
        want = bm25_over_index(spark, clean, terms, topn=20).collect()
        assert got == want, terms
    # dl too: doclen rows for (4, rev 1) reflect only the new text
    raw = spark.read.parquet(store.rstrip("/") + "_rev/doclen")
    assert [r.dl for r in raw.filter("doc_id = 4").collect()] == [3]


def test_purge_clear_lets_a_reingested_id_serve_again(spark, tmp_path):
    """clear=True forgets the REVISION state too: without that, a stale
    max-rev marker (whose _rev rows the purge removed) would anti-join a
    re-ingested id's fresh main-store rows forever — live in the corpus,
    permanently unsearchable (regression)."""
    from fest_vibes_ai_etl_spark.operators.search import (
        load_or_build_postings_store,
    )
    from fest_vibes_ai_etl_spark.streaming.incremental_search import (
        bm25_over_index,
        delete_from_search_index,
        make_search_index_processor,
        revise_search_document,
    )

    idx = str(tmp_path / "idx")
    proc = make_search_index_processor(idx)
    docs = spark.createDataFrame(
        [(1, "alpha body"), (2, "merge hash body")],
        "doc_id long, text string",
    )
    proc(docs, 0)
    revise_search_document(spark, idx, 2, "merge revised body")
    delete_from_search_index(spark, idx, [2])
    assert proc.purge(spark, clear=True) == 1
    assert read_revisions(spark, idx, "doc_id") is None  # markers forgotten
    # the id is unburned and re-ingestable: the stream indexes it fresh
    proc(
        spark.createDataFrame(
            [(2, "merge reborn body")], "doc_id long, text string"
        ),
        1,
    )
    hits = {r[0] for r in bm25_over_index(spark, idx, ["reborn"], topn=5).collect()}
    assert hits == {2}


def test_rev_sidecar_crash_heal_and_detect(spark, tmp_path):
    """A compaction of the _rev sidecars that died post-rename leaves the
    merged segment and its inputs double-visible: probes must HEAL it
    (owner mode) or REFUSE (detect mode) — never double-serve a revised
    doc's rows (regression: the sidecar was read raw)."""
    import json
    import shutil

    from fest_vibes_ai_etl_spark.streaming.state_store import (
        InFlightRecoveryError,
    )

    store = _store(spark, tmp_path)
    revise_search_document(spark, store, 6, "healme unique words")
    before = bm25_over_index(spark, store, ["healme", "merge"], topn=20).collect()

    # simulate the crash window: duplicate a data file (the "input" the
    # dead pass never deleted) + its journal naming the survivor as final
    rdir = store.rstrip("/") + "_rev/terms"
    data = [
        n for n in os.listdir(rdir)
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    ]
    dup = "part-dead-input.parquet"
    shutil.copy(os.path.join(rdir, data[0]), os.path.join(rdir, dup))
    with open(os.path.join(rdir, "_compact.json"), "w") as fh:
        json.dump({"final": data[0], "inputs": [dup]}, fh)
    invalidate_probe_memo(store)

    # read-only probe refuses, mutating nothing
    with pytest.raises(InFlightRecoveryError, match="revision"):
        bm25_over_index(spark, store, ["healme"], topn=5, heal="detect")
    assert os.path.exists(os.path.join(rdir, dup))

    # owner probe heals and ranks exactly as before the crash
    invalidate_probe_memo(store)
    after = bm25_over_index(spark, store, ["healme", "merge"], topn=20).collect()
    assert after == before
    assert not os.path.exists(os.path.join(rdir, dup))


def _hint_warnings(spark, log_path: str, action) -> list[str]:
    """The HintErrorLogger warnings Spark logs while ``action()`` runs,
    captured through a file appender on that one logger."""
    log4j = spark._jvm.org.apache.logging.log4j
    name = "org.apache.spark.sql.catalyst.analysis.HintErrorLogger"
    logger = log4j.LogManager.getLogger(name)
    level = logger.getLevel()
    appender = (
        log4j.core.appender.FileAppender.newBuilder()
        .withFileName(log_path)
        .setName("hint-capture")
        .build()
    )
    appender.start()
    log4j.core.config.Configurator.setLevel(name, log4j.Level.WARN)
    logger.setAdditive(False)
    logger.addAppender(appender)
    try:
        action()
    finally:
        logger.removeAppender(appender)
        appender.stop()
        logger.setAdditive(True)
        log4j.core.config.Configurator.setLevel(name, level)
    with open(log_path) as fh:
        return [line for line in fh if "join hint" in line]


def test_revise_logs_no_broadcast_hint_warning(spark, tmp_path):
    """revise looks its id up in the tombstone and marker sets, which
    carry the bounded-broadcast hint for their join consumers. The
    lookups join the id against them, so the hint sits in a join: a
    filter there would make every revise log "A join hint ... is not
    part of a join relation". The control shows the capture sees that
    warning."""
    store = _store(spark, tmp_path)
    delete_from_search_index(spark, store, [11])
    revise_search_document(spark, store, 12, "first revision words")
    control = _hint_warnings(
        spark,
        str(tmp_path / "control.log"),
        lambda: F.broadcast(spark.range(3)).filter("id = 1").count(),
    )
    assert control, "the capture saw no warning for a hint outside a join"
    revs = []
    warned = _hint_warnings(
        spark,
        str(tmp_path / "revise.log"),
        lambda: revs.append(
            revise_search_document(spark, store, 12, "second revision")
        ),
    )
    assert revs == [2]
    assert warned == []
    # the join consumers' reads keep the hint
    def hinted(df):
        return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()

    assert hinted(read_tombstones(spark, store, cols=["doc_id"]))
    assert hinted(read_revisions(spark, store, "doc_id"))
