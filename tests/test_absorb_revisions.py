"""Round 14: incremental ABSORPTION of revisions — the physical fold of
the ``_rev`` sidecars into the main postings/doclen/forward store, so a
high-edit-rate store's probes return to the marker-free fast path
without a full rebuild (the round-13 limit: absorption only rode the
fingerprint-keyed rebuild). The invariants under test:

- absorb is probe-INVISIBLE: bm25 and Rocchio rank identically before
  and after, and identically to an index rebuilt from the edited corpus;
- after absorb, read_revisions is None (the zero-added-plan fast path);
- crash windows converge: a death mid-bucket-rewrite leaves probes
  exact (markers still divert revised ids to the sidecar) and a re-run
  finishes; a death between the marker drop and the sidecar cleanup is
  finished by the next absorb;
- the maintain tick triggers absorption at the revised-fraction
  threshold and not below it;
- revise-after-absorb restarts cleanly at rev 1."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fest_vibes_ai_etl_spark.operators.search import (
    load_or_build_postings_store,
    pruned_postings_for_terms,
    rocchio_expanded_topk,
)
from fest_vibes_ai_etl_spark.streaming.incremental_search import (
    absorb_search_revisions,
    bm25_over_index,
    forward_terms_for_docs,
    index_doclen,
    maintain_search_index,
    revise_search_document,
)
from fest_vibes_ai_etl_spark.streaming.revisions import read_revisions


def _docs(spark, n=60):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("merge hash window alpha beta gamma doc "), F.col("id")
        ).alias("text"),
    )


def _store(spark, tmp_path, n=60, name="store"):
    store = str(tmp_path / name)
    load_or_build_postings_store(
        spark, _docs(spark, n), str(tmp_path), store_path=store
    )
    return store


EDITS = {
    7: "zebra quokka zebra unique tokens only",
    11: "merge hash revised eleven content",
    23: "window gamma twentythree fresh words",
}


def _apply_edits(spark, store):
    for doc_id, text in EDITS.items():
        revise_search_document(spark, store, doc_id, text)
    # a second revision of one doc: absorption must serve rev 2
    revise_search_document(spark, store, 7, "zebra quokka final text")


def _rebuilt_reference(spark, tmp_path):
    edited = _docs(spark)
    for doc_id, text in EDITS.items():
        edited = edited.withColumn(
            "text",
            F.when(F.col("doc_id") == doc_id, F.lit(text)).otherwise(
                F.col("text")
            ),
        )
    edited = edited.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 7, F.lit("zebra quokka final text")
        ).otherwise(F.col("text")),
    )
    ref = str(tmp_path / "ref_store")
    load_or_build_postings_store(
        spark, edited, str(tmp_path), store_path=ref
    )
    return ref


def _probe(spark, store, terms=("merge", "zebra", "window")):
    out = {}
    for t in terms:
        out[t] = bm25_over_index(spark, store, [t], topn=10).collect()
    return out


def test_absorb_matches_rebuilt_index_and_restores_fast_path(
    spark, tmp_path
):
    store = _store(spark, tmp_path)
    _apply_edits(spark, store)
    before = _probe(spark, store)
    assert read_revisions(spark, store) is not None  # slow path active

    stats = absorb_search_revisions(spark, store)
    assert stats["absorbed_docs"] == 3
    assert stats["postings_buckets"] > 0

    # fast path re-engaged: no markers, no sidecars in any probe plan
    assert read_revisions(spark, store) is None
    assert _probe(spark, store) == before

    # and byte-equal to an index rebuilt from the edited corpus
    ref = _rebuilt_reference(spark, tmp_path)
    assert _probe(spark, store) == _probe(spark, ref)
    # doclen folded too (corpus stats identical)
    dl_s = sorted(map(tuple, index_doclen(spark, store).collect()))
    dl_r = sorted(map(tuple, index_doclen(spark, ref).collect()))
    assert dl_s == dl_r

    # rocchio's forward/candidate machinery serves the absorbed store
    roc = rocchio_expanded_topk(
        None, index_doclen(spark, store), ["merge", "hash"],
        fb_k=5, expand_n=5, beta=0.5, topn=10,
        pruned=lambda ts: pruned_postings_for_terms(spark, store, ts),
        forward=lambda ids: forward_terms_for_docs(spark, store, ids),
    ).collect()
    roc_ref = rocchio_expanded_topk(
        None, index_doclen(spark, ref), ["merge", "hash"],
        fb_k=5, expand_n=5, beta=0.5, topn=10,
        pruned=lambda ts: pruned_postings_for_terms(spark, ref, ts),
        forward=lambda ids: forward_terms_for_docs(spark, ref, ids),
    ).collect()
    assert roc == roc_ref


def test_absorb_empty_revision_matches_rebuild(spark, tmp_path):
    """A doc revised to empty text stops ranking for its old terms (the
    existing revise semantics — tokenize('') keeps a dl-only shell, the
    same shell batch-indexing an empty doc produces). Absorption must
    preserve exactly that: post-absorb store ≡ index rebuilt from the
    corpus with the doc's text set to ''."""
    store = _store(spark, tmp_path)
    revise_search_document(spark, store, 5, "")
    pre = bm25_over_index(spark, store, ["merge"], topn=60).collect()
    assert 5 not in {r[0] for r in pre}
    absorb_search_revisions(spark, store)
    assert read_revisions(spark, store) is None
    assert bm25_over_index(spark, store, ["merge"], topn=60).collect() == pre
    edited = _docs(spark).withColumn(
        "text",
        F.when(F.col("doc_id") == 5, F.lit("")).otherwise(F.col("text")),
    )
    ref = str(tmp_path / "ref_empty")
    load_or_build_postings_store(spark, edited, str(tmp_path), store_path=ref)
    dl_s = sorted(map(tuple, index_doclen(spark, store).collect()))
    dl_r = sorted(map(tuple, index_doclen(spark, ref).collect()))
    assert dl_s == dl_r
    assert (
        bm25_over_index(spark, ref, ["merge"], topn=60).collect() == pre
    )


def test_revise_after_absorb_restarts_at_rev_one(spark, tmp_path):
    store = _store(spark, tmp_path)
    assert revise_search_document(spark, store, 9, "first body merge") == 1
    assert revise_search_document(spark, store, 9, "second body merge") == 2
    absorb_search_revisions(spark, store)
    assert revise_search_document(spark, store, 9, "third body zebra") == 1
    hits = {r[0] for r in bm25_over_index(spark, store, ["zebra"], topn=5).collect()}
    assert hits == {9}
    # and absorbing again folds the restarted revision too
    absorb_search_revisions(spark, store)
    assert read_revisions(spark, store) is None
    hits = {r[0] for r in bm25_over_index(spark, store, ["zebra"], topn=5).collect()}
    assert hits == {9}


def test_absorb_crash_mid_rewrite_is_probe_invisible_and_converges(
    spark, tmp_path, monkeypatch
):
    """Die after the FIRST bucket rewrite: markers still divert every
    revised id to the sidecar, so probes stay exact; the re-run drops
    the half-absorbed copies before unioning fresh rows (idempotent)."""
    from fest_vibes_ai_etl_spark.streaming import (
        incremental_search as inc,
        state_store,
    )

    store = _store(spark, tmp_path)
    _apply_edits(spark, store)
    before = _probe(spark, store)

    real = state_store.compact_small_files
    calls = {"n": 0}

    def dying(spark_, d, **kw):
        n = real(spark_, d, **kw)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash after first rewrite")
        return n

    monkeypatch.setattr(state_store, "compact_small_files", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        absorb_search_revisions(spark, store)
    monkeypatch.undo()

    assert read_revisions(spark, store) is not None  # commit never hit
    assert _probe(spark, store) == before  # half-absorbed copies invisible

    stats = absorb_search_revisions(spark, store)  # converges
    assert stats["absorbed_docs"] == 3
    assert read_revisions(spark, store) is None
    assert _probe(spark, store) == before
    # no duplicated rows from the double-absorbed first bucket
    post = spark.read.parquet(store + "/postings")
    assert post.count() == post.select("term", "doc_id").distinct().count()


def test_absorb_orphan_cleanup_after_marker_drop_crash(spark, tmp_path):
    """Die between the marker delete (the commit point) and the sidecar
    deletes: probes already serve the absorbed main rows; the orphaned
    _rev rows are unreachable and the next absorb sweeps them."""
    import os
    import shutil

    store = _store(spark, tmp_path)
    _apply_edits(spark, store)
    before = _probe(spark, store)
    absorb_search_revisions(spark, store)
    # recreate the crash state: sidecar dirs back in place, markers gone
    os.makedirs(store + "_rev/terms", exist_ok=True)
    spark.createDataFrame(
        [(7, 99, "orphan", 1)], "doc_id long, rev int, term string, tf bigint"
    ).write.mode("overwrite").parquet(store + "_rev/terms")
    assert read_revisions(spark, store) is None  # fast path regardless
    assert _probe(spark, store) == before
    absorb_search_revisions(spark, store)  # the no-op path sweeps
    assert not os.path.isdir(store + "_rev/terms")
    shutil.rmtree(store + "_rev", ignore_errors=True)


def test_maintain_tick_absorbs_at_threshold(spark, tmp_path):
    store = _store(spark, tmp_path, n=60)
    revise_search_document(spark, store, 3, "merge lone revision body")
    # 1/60 revised: under the 20% default — the tick must NOT absorb
    stats = maintain_search_index(spark, store)
    assert stats["revisions_absorbed"] == 0
    assert read_revisions(spark, store) is not None
    # push past the threshold (13/60 > 20%)
    for i in range(12):
        revise_search_document(
            spark, store, 20 + i, f"merge edited body {i}"
        )
    stats = maintain_search_index(spark, store)
    assert stats["revisions_absorbed"] == 13
    assert read_revisions(spark, store) is None
    # explicit disable leaves revisions pending
    revise_search_document(spark, store, 4, "merge another body")
    stats = maintain_search_index(spark, store, absorb_revised_at=None)
    assert stats["revisions_absorbed"] == 0
    assert read_revisions(spark, store) is not None


def test_absorb_ivf_revisions_matches_probe_and_restores_fast_path(
    spark, tmp_path
):
    """The IVF family's absorption: after absorb, full-probe top-k still
    equals brute force over the edited corpus, read_revisions is None
    (markers and _rev gone), the revised id physically lives in its NEW
    cell only, and revise-after-absorb restarts at rev 1."""
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

    new_vec = rows[0][1]
    ivf.revise_ivf_vector(spark, idx, centers, 9, new_vec)
    ivf.revise_ivf_vector(spark, idx, centers, 17, rows[2][1])
    queries = emb.filter(F.col("vec_id") < 3)

    def probe():
        view = ivf.read_ivf_index(spark, idx)
        return (
            ivf.ivf_topk(view, centers, queries, topk=5, nprobe=4)
            .orderBy("query_id", "rk")
            .collect()
        )

    before = probe()
    stats = ivf.absorb_ivf_revisions(spark, idx)
    assert stats["absorbed_vectors"] == 2
    assert stats["cells_rewritten"] > 0
    assert read_revisions(spark, idx, "vec_id") is None
    assert probe() == before
    # still exact vs brute force over the edited corpus
    edited = spark.createDataFrame(
        [
            (i, new_vec if i == 9 else (rows[2][1] if i == 17 else v))
            for i, v in rows
        ],
        "vec_id long, embedding array<double>",
    )
    want = (
        topk_cosine(edited, queries, k=5).orderBy("query_id", "rk").collect()
    )
    assert [tuple(r) for r in probe()] == [tuple(r) for r in want]
    # the revised id lives in exactly one cell, and raw == resolved view
    raw = spark.read.parquet(idx)
    assert raw.filter("vec_id = 9").count() == 1
    assert raw.count() == 60
    # revise-after-absorb restarts at rev 1
    assert ivf.revise_ivf_vector(spark, idx, centers, 9, rows[3][1]) == 1
    ivf.absorb_ivf_revisions(spark, idx)
    assert read_revisions(spark, idx, "vec_id") is None
