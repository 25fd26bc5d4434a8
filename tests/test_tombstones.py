"""Delete path across the index families: tombstone-now, purge-later.

The contract under test (STATE.md): from the moment an id is tombstoned,
(1) probes no longer return it (search BM25, IVF) and it no longer
suppresses fresh documents (dedup candidates), (2) its content cannot
re-enter (burned ids/fingerprints at batch entry), (3) maintenance folds
its rows physically and the purge ops remove them entirely, and (4)
behavior is IDENTICAL before and after the physical purge."""

from __future__ import annotations

import os

from conftest import SF_DIR

from fest_vibes_ai_etl_spark.operators.search import bm25_topk, build_postings
from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming import incremental_search as inc
from fest_vibes_ai_etl_spark.streaming import tombstones as tb
from fest_vibes_ai_etl_spark.streaming.incremental_near_dedup import (
    make_near_dedup_processor,
)

TERMS = ["merge", "hash", "window"]


def _docs(spark, lo, hi):
    return (
        table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(f"doc_id >= {lo} AND doc_id < {hi}")
    )


def _rank(spark, idx, topn=10):
    return [
        tuple(r)
        for r in inc.bm25_over_index(spark, idx, TERMS, topn=topn).collect()
    ]


# --- search index ------------------------------------------------------------


def test_search_delete_probe_excludes_and_matches_rebuilt_index(spark, tmp_path):
    """Tombstoned docs vanish from the ranking AND the scores equal an
    index that never contained them (df and corpus stats excluded too)."""
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc(_docs(spark, 0, 100), 0)
    top = _rank(spark, idx)
    victim = top[0][0]
    assert inc.delete_from_search_index(spark, idx, [victim]) == 1
    got = _rank(spark, idx)
    assert victim not in {r[0] for r in got}
    # exact parity with an index built WITHOUT the victim
    docs = _docs(spark, 0, 100).filter(f"doc_id != {victim}")
    postings, doclen = build_postings(docs)
    want = [tuple(r) for r in bm25_topk(postings, doclen, TERMS, topn=10).collect()]
    assert got == want


def test_search_tombstoned_id_burned_and_purge_is_invisible(spark, tmp_path):
    """A re-sent tombstoned id is never re-indexed; maintenance folds the
    rows; purge physically removes them without changing any ranking."""
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc(_docs(spark, 0, 80), 0)
    victim = _rank(spark, idx)[0][0]
    inc.delete_from_search_index(spark, idx, [victim])
    before = _rank(spark, idx)
    # re-send the victim (same id, any text): burned, not re-indexed
    resend = spark.createDataFrame(
        [(victim, "merge merge hash window spam")], "doc_id long, text string"
    )
    proc(resend, 1)
    assert _rank(spark, idx) == before
    dl = spark.read.parquet(idx + "/doclen")
    assert dl.filter(f"doc_id = {victim}").count() == 1  # old row, pre-purge
    # purge: physically gone from postings AND doclen; ranking unchanged
    stats = inc.purge_search_tombstones(spark, idx)
    assert stats["docs_purged"] == 1 and stats["buckets_purged"] > 0
    assert (
        spark.read.parquet(idx + "/doclen").filter(f"doc_id = {victim}").count()
        == 0
    )
    assert (
        spark.read.parquet(idx + "/postings")
        .filter(f"doc_id = {victim}")
        .count()
        == 0
    )
    assert _rank(spark, idx) == before
    # the id stays burned after the purge (tombstones kept by default)
    proc(resend, 2)
    assert _rank(spark, idx) == before


# --- near-dup dedup corpus ----------------------------------------------------


def test_search_maintenance_folds_tombstones(spark, tmp_path):
    """The maintenance tick's rewrites must physically drop tombstoned
    docs' rows from every file they merge (the fold hook), while the
    ranking stays byte-stable throughout."""
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    for i in range(5):
        proc(_docs(spark, i * 16, (i + 1) * 16), i)
    victim = _rank(spark, idx)[0][0]
    inc.delete_from_search_index(spark, idx, [victim])
    before = _rank(spark, idx)
    stats = inc.maintain_search_index(spark, idx, max_files_per_bucket=1)
    assert stats["files_merged"] > 0
    # every MERGED file dropped the victim's rows; the raw store may keep
    # them only in files maintenance didn't touch this tick (here: none,
    # max_files=1 merges every fragmented bucket the victim's terms hit)
    post = spark.read.parquet(idx + "/postings")
    # the victim's postings now survive only in buckets that were below
    # the merge threshold; doclen was fully merged, so its row is gone
    assert (
        spark.read.parquet(idx + "/doclen").filter(f"doc_id = {victim}").count()
        == 0
    )
    assert _rank(spark, idx) == before
    assert post.count() == post.select("term", "doc_id").distinct().count()


BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
NEAR = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
OTHER = "one two three four five six seven eight nine ten"


def _near_proc(corpus, **kw):
    return make_near_dedup_processor(
        corpus, k=3, num_hashes=32, bands=8, threshold=0.2, **kw
    )


def test_near_dedup_deleted_doc_stops_suppressing_and_burns(spark, tmp_path):
    rows = lambda *r: spark.createDataFrame(list(r), "doc_id long, text string")
    # control: without a delete, the near-copy IS suppressed
    ctl = str(tmp_path / "ctl")
    p0 = _near_proc(ctl)
    p0(rows((1, BASE), (10, OTHER)), 0)
    p0(rows((2, NEAR)), 1)
    assert spark.read.parquet(ctl).filter("doc_id = 2").count() == 0

    corpus = str(tmp_path / "corpus")
    proc = _near_proc(corpus)
    proc(rows((1, BASE), (10, OTHER)), 0)
    assert tb.delete_from_dedup_corpus(spark, corpus, [1]) == 1
    # the near-copy of the ERASED doc is admitted now
    proc(rows((2, NEAR)), 1)
    stored = spark.read.parquet(corpus)
    assert stored.filter("doc_id = 2").count() == 1
    # but the erased doc's exact text (any id) and its id are burned
    proc(rows((3, BASE), (1, OTHER)), 2)
    stored = spark.read.parquet(corpus)
    assert stored.filter("doc_id = 3").count() == 0  # same bytes: burned fp
    assert stored.filter("doc_id = 1").count() == 1  # only the ORIGINAL row
    # downstream view hides the tombstoned row
    assert tb.read_dedup_corpus(spark, corpus).filter("doc_id = 1").count() == 0


def test_near_dedup_maintenance_folds_and_purge_removes(spark, tmp_path):
    rows = lambda *r: spark.createDataFrame(list(r), "doc_id long, text string")
    corpus = str(tmp_path / "corpus")
    proc = _near_proc(corpus)
    proc(rows((1, BASE), (10, OTHER)), 0)
    tb.delete_from_dedup_corpus(spark, corpus, [1])
    # a FRESH processor's first maintenance tick takes the full-walk path
    # (write-set unknown), so with max_files=0 every populated band is
    # rewritten — the fold must reach doc 1's rows in both sidecars
    proc_b = _near_proc(corpus, maintain_every=1, maintain_max_files=0)
    proc_b(rows((20, "unrelated words entirely here now")), 1)
    from fest_vibes_ai_etl_spark.streaming.dedup_stream import exact_index_path
    from fest_vibes_ai_etl_spark.streaming.incremental_near_dedup import (
        near_index_path,
    )

    for side in (exact_index_path(corpus), near_index_path(corpus)):
        assert spark.read.parquet(side).filter("id = 1").count() == 0
    # purge: the corpus row is physically gone, later batches unaffected
    removed = tb.purge_corpus_tombstones(spark, corpus)
    assert removed == 1
    raw = spark.read.parquet(corpus)
    assert raw.filter("doc_id = 1").count() == 0
    assert raw.count() == tb.read_dedup_corpus(spark, corpus).count()
    proc2 = _near_proc(corpus)
    proc2(rows((4, NEAR.replace("lambda", "mu"))), 2)  # still admitted
    assert spark.read.parquet(corpus).filter("doc_id = 4").count() == 1


def test_purge_crash_heals_at_stream_open(spark, tmp_path):
    """Simulate a death between the purge's two renames (live missing,
    staged + old both present): the processor's open-time heal must
    restore the corpus instead of silently restarting it from empty."""
    rows = lambda *r: spark.createDataFrame(list(r), "doc_id long, text string")
    corpus = str(tmp_path / "corpus")
    proc = _near_proc(corpus)
    proc(rows((1, BASE), (10, OTHER)), 0)
    tb.delete_from_dedup_corpus(spark, corpus, [1])
    kept = spark.read.parquet(corpus).filter("doc_id != 1")
    kept.write.parquet(corpus + "_purgetmp")  # the completed staging
    os.rename(corpus, corpus + "_prepurge")  # crash between the renames
    proc2 = _near_proc(corpus)
    proc2(rows((5, "totally fresh text for the heal batch")), 1)
    stored = spark.read.parquet(corpus)
    assert stored.filter("doc_id = 10").count() == 1  # history survived
    assert stored.filter("doc_id = 5").count() == 1
    assert stored.filter("doc_id = 1").count() == 0  # staged copy won
    assert not os.path.exists(corpus + "_prepurge")
    assert not os.path.exists(corpus + "_purgetmp")


def test_span_dedup_deleted_doc_stops_suppressing_and_burns(spark, tmp_path):
    """The span (winnowing) stream honors the same contract: a fresh doc
    sharing a passage with an ERASED doc is admitted, while the erased
    doc's exact bytes (any id) stay burned."""
    from fest_vibes_ai_etl_spark.streaming.incremental_span_dedup import (
        make_span_dedup_processor,
    )

    rows = lambda *r: spark.createDataFrame(list(r), "doc_id long, text string")
    para = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "jugglers balance quietly beside the riverbank at dawn today"
    )
    carrier = "completely different opening words here " + para
    kw = dict(k=8, w=4, min_shared=2)
    # control: the shared-passage carrier IS suppressed without a delete
    ctl = str(tmp_path / "ctl")
    p0 = make_span_dedup_processor(ctl, **kw)
    p0(rows((1, para), (10, OTHER)), 0)
    p0(rows((2, carrier)), 1)
    assert spark.read.parquet(ctl).filter("doc_id = 2").count() == 0

    corpus = str(tmp_path / "corpus")
    proc = make_span_dedup_processor(corpus, **kw)
    proc(rows((1, para), (10, OTHER)), 0)
    assert tb.delete_from_dedup_corpus(spark, corpus, [1]) == 1
    proc(rows((2, carrier), (3, para)), 1)
    stored = spark.read.parquet(corpus)
    assert stored.filter("doc_id = 2").count() == 1  # passage no longer suppresses
    assert stored.filter("doc_id = 3").count() == 0  # exact bytes: burned fp
    assert tb.purge_corpus_tombstones(spark, corpus) == 1
    assert spark.read.parquet(corpus).filter("doc_id = 1").count() == 0


def test_exact_dedup_burned_fingerprint(spark, tmp_path):
    from fest_vibes_ai_etl_spark.streaming.incremental_dedup import (
        make_exact_dedup_processor,
    )

    rows = lambda *r: spark.createDataFrame(list(r), "doc_id long, text string")
    corpus = str(tmp_path / "corpus")
    proc = make_exact_dedup_processor(corpus)
    proc(rows((1, BASE), (10, OTHER)), 0)
    tb.delete_from_dedup_corpus(spark, corpus, [1])
    proc(rows((7, BASE)), 1)  # same bytes, new id: burned
    assert spark.read.parquet(corpus).filter("doc_id = 7").count() == 0
    assert tb.purge_corpus_tombstones(spark, corpus) == 1
    assert spark.read.parquet(corpus).filter("doc_id = 1").count() == 0


def test_search_probe_survives_fully_purged_bucket(spark, tmp_path):
    """Purging every doc whose postings live in a bucket leaves the tb=
    directory EMPTY (the all-rows-excluded merge journals final=None);
    a probe whose terms hash there must return empty, not crash on
    schema inference."""
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    batch = spark.createDataFrame(
        [(1, "zzuniqueterm zzuniqueterm"), (2, "merge hash window")],
        "doc_id long, text string",
    )
    proc(batch, 0)
    inc.delete_from_search_index(spark, idx, [1])
    inc.purge_search_tombstones(spark, idx)
    got = inc.bm25_over_index(spark, idx, ["zzuniqueterm"], topn=5).collect()
    assert got == []
    # the rest of the index still serves
    assert len(inc.bm25_over_index(spark, idx, TERMS, topn=5).collect()) == 1


def test_dedup_delete_burns_in_flight_ids(spark, tmp_path):
    """An erase for a doc NOT yet stored must still burn: the next batch
    carrying that id (the in-flight race) appends nothing for it."""
    rows = lambda *r: spark.createDataFrame(list(r), "doc_id long, text string")
    corpus = str(tmp_path / "corpus")
    proc = _near_proc(corpus)
    proc(rows((10, OTHER)), 0)
    assert tb.delete_from_dedup_corpus(spark, corpus, [77]) == 0  # not stored
    proc(rows((77, BASE), (11, NEAR.replace("lambda", "nu") + " extra")), 1)
    stored = spark.read.parquet(corpus)
    assert stored.filter("doc_id = 77").count() == 0  # burned id
    assert stored.filter("doc_id = 11").count() == 1  # batch-mate unaffected


def test_remove_tombstones_revokes_a_mistaken_delete(spark, tmp_path):
    """A wrong-id delete caught before any maintenance fold is fully
    revocable: the doc returns to the ranking byte-identically, the other
    tombstones survive the swap, and a crashed swap heals at the next
    tombstone read."""
    import os

    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc(_docs(spark, 0, 80), 0)
    before = _rank(spark, idx)
    v1, v2 = before[0][0], before[1][0]
    inc.delete_from_search_index(spark, idx, [v1, v2])
    assert {v1, v2} & {r[0] for r in _rank(spark, idx)} == set()
    assert tb.remove_tombstones(spark, idx, [v1], "doc_id") == 1
    got = _rank(spark, idx)
    assert v1 in {r[0] for r in got} and v2 not in {r[0] for r in got}
    # revoking the rest restores the original ranking exactly
    assert tb.remove_tombstones(spark, idx, [v2], "doc_id") == 1
    assert _rank(spark, idx) == before
    assert tb.remove_tombstones(spark, idx, [v1], "doc_id") == 0  # idempotent
    # crashed swap shape: live renamed out, staged present — the next
    # tombstone read must heal it
    inc.delete_from_search_index(spark, idx, [v1])
    tdir = tb.tombstones_path(idx)
    kept = spark.read.parquet(tdir)
    kept.coalesce(1).write.parquet(tdir + "_untmp")
    os.rename(tdir, tdir + "_unold")
    assert tb.read_tombstones(spark, idx) is not None  # healed + readable
    assert not os.path.exists(tdir + "_unold")
    assert v1 not in {r[0] for r in _rank(spark, idx)}


def test_full_erasure_purge_leaves_usable_stores(spark, tmp_path):
    """Tombstone EVERYTHING and purge: the dedup corpus must come back as
    a clean first-batch state (not a wedged dataless directory), and the
    search index must keep serving empty results and accept new docs."""
    rows = lambda *r: spark.createDataFrame(list(r), "doc_id long, text string")
    corpus = str(tmp_path / "corpus")
    proc = _near_proc(corpus)
    proc(rows((1, BASE), (2, OTHER)), 0)
    tb.delete_from_dedup_corpus(spark, corpus, [1, 2])
    assert tb.purge_corpus_tombstones(spark, corpus) == 2
    # the corpus survives as READABLE-EMPTY (a downstream consumer that
    # read it before the purge must not crash after it), and the stream
    # continues; burned content stays burned, new content lands
    assert spark.read.parquet(corpus).count() == 0
    assert tb.read_dedup_corpus(spark, corpus).count() == 0
    proc2 = _near_proc(corpus)
    proc2(rows((3, BASE), (4, "entirely new words for doc four")), 1)
    stored = spark.read.parquet(corpus)
    assert stored.filter("doc_id = 3").count() == 0  # burned fp
    assert stored.filter("doc_id = 4").count() == 1

    idx = str(tmp_path / "sidx")
    sproc = inc.make_search_index_processor(idx, n_term_buckets=8)
    sproc(rows((1, "merge hash window")), 0)
    inc.delete_from_search_index(spark, idx, [1])
    inc.purge_search_tombstones(spark, idx)
    assert inc.bm25_over_index(spark, idx, TERMS, topn=5).collect() == []
    sproc2 = inc.make_search_index_processor(idx, n_term_buckets=8)
    sproc2(rows((2, "merge hash window again")), 1)
    assert [r[0] for r in inc.bm25_over_index(spark, idx, TERMS, topn=5).collect()] == [2]


def test_string_keyed_index_burns_before_first_commit(spark, tmp_path):
    """A delete racing the first commit of a STRING-keyed index must
    write a string-typed tombstone (via the meta's advisory id_type) that
    actually burns the id when it arrives."""
    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, id_col="sid", n_term_buckets=8)
    empty = spark.createDataFrame([], "sid string, text string")
    proc(empty, 0)  # writes the layout meta; nothing committed
    assert inc.delete_from_search_index(spark, idx, ["doc-a"]) == 0
    proc(
        spark.createDataFrame(
            [("doc-a", "merge hash window"), ("doc-b", "merge hash window")],
            "sid string, text string",
        ),
        1,
    )
    got = inc.bm25_over_index(spark, idx, TERMS, topn=5, id_col="sid").collect()
    assert [r[0] for r in got] == ["doc-b"]


def test_cdc_on_delete_is_winner_aware(spark, tmp_path):
    """on_delete must report only keys whose delete WON last-writer-wins:
    a delete-then-reinsert key and a stale delete (outranked by an
    already-applied newer upsert) stay live in the table and must NOT be
    burned in the indexes."""
    from fest_vibes_ai_etl_spark.streaming import cdc

    target = str(tmp_path / "table")
    # pre-apply: key 2 lives at version 10
    cdc.apply_cdc_batch(
        spark,
        target,
        spark.createDataFrame(
            [(2, "live", "u", 10, 1)],
            "doc_id long, payload string, op string, version long, part int",
        ),
        ["doc_id"],
        "part",
    )
    reported = []

    def on_delete(spark_, df):
        reported.extend(sorted(r.doc_id for r in df.collect()))

    changes = spark.createDataFrame(
        [
            (1, "x", "d", 5, 1),    # clean delete: wins -> reported
            (2, "stale", "d", 7, 1),  # outranked by applied v10: NOT reported
            (3, "a", "d", 5, 1),    # delete then re-insert in one batch:
            (3, "b", "u", 6, 1),    # the upsert wins -> NOT reported
        ],
        "doc_id long, payload string, op string, version long, part int",
    )
    src = str(tmp_path / "src")
    changes.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, payload string, op string, version long, part int"
    ).parquet(src)
    q = cdc.start_cdc_apply(
        stream, target, str(tmp_path / "ckpt"), ["doc_id"], "part",
        on_delete=on_delete,
    )
    assert q.awaitTermination(120), "cdc stream did not finish in 120s"
    assert reported == [1]
    live = {r.doc_id for r in cdc.cdc_view(spark, target).collect()}
    assert live == {2, 3}


def test_cdc_delete_propagates_to_search_index(spark, tmp_path):
    """The cross-store consistency bridge: a delete flowing through the
    CDC apply stream tombstones the same ids in the search index via the
    on_delete hook — the doc disappears from the table view AND from the
    BM25 ranking in the same batch, and a replay re-invoking the hook is
    a no-op (idempotent tombstones)."""
    from fest_vibes_ai_etl_spark.streaming import cdc

    idx = str(tmp_path / "sidx")
    proc = inc.make_search_index_processor(idx, n_term_buckets=8)
    proc(_docs(spark, 0, 60), 0)
    victim = _rank(spark, idx)[0][0]

    def on_delete(spark_, deleted_df):
        inc.delete_from_search_index(
            spark_, idx, [r.doc_id for r in deleted_df.collect()]
        )

    target = str(tmp_path / "table")
    changes = spark.createDataFrame(
        [(int(victim), "gone", "d", 2, 1)],
        "doc_id long, payload string, op string, version long, part int",
    )
    src = str(tmp_path / "src")
    changes.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, payload string, op string, version long, part int"
    ).parquet(src)
    q = cdc.start_cdc_apply(
        stream, target, str(tmp_path / "ckpt"), ["doc_id"], "part",
        on_delete=on_delete,
    )
    assert q.awaitTermination(120), "cdc stream did not finish in 120s"
    assert cdc.cdc_view(spark, target).filter(f"doc_id = {victim}").count() == 0
    got = _rank(spark, idx)
    assert victim not in {r[0] for r in got} and len(got) == 10
    # replayed hook (at-least-once): same call again is a no-op
    on_delete(spark, changes.filter("op = 'd'").select("doc_id"))
    assert _rank(spark, idx) == got


# --- IVF ----------------------------------------------------------------------


def test_ivf_delete_tombstones_at_probe_and_burns_readds(spark, tmp_path):
    from pyspark.sql import functions as F

    from fest_vibes_ai_etl_spark.operators import ivf

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter("vec_id < 200")
    assigned, centers = ivf.build_ivf_index(base, k=4, seed=7)
    index_dir = str(tmp_path / "index")
    assigned.repartition("cell_id").write.partitionBy("cell_id").parquet(index_dir)
    proc = ivf.make_index_add_processor(index_dir, centers)
    proc(emb.filter("vec_id >= 200 AND vec_id < 220"), 0)
    # pick a stored id and a query that retrieves it
    queries = emb.filter("vec_id = 210")
    got = ivf.ivf_topk(
        ivf.read_ivf_index(spark, index_dir), centers, queries, topk=3, nprobe=4
    ).collect()
    victim = got[0].vec_id
    assert ivf.delete_from_ivf_index(spark, index_dir, [victim]) == 1
    after = ivf.ivf_topk(
        ivf.read_ivf_index(spark, index_dir), centers, queries, topk=3, nprobe=4
    ).collect()
    assert victim not in {r.vec_id for r in after}
    # a re-sent tombstoned id is burned at the add's entry
    proc(emb.filter(F.col("vec_id") == victim), 1)
    assert (
        ivf.read_ivf_index(spark, index_dir)
        .filter(F.col("vec_id") == victim)
        .count()
        == 0
    )
    raw = spark.read.parquet(index_dir).filter(F.col("vec_id") == victim)
    assert raw.count() == 1  # only the pre-delete row: never re-added


def test_literal_frame_is_a_typed_one_task_jvm_relation(spark):
    """The owner ops' id and key frames: typed from the schema (DDL or
    StructType), empty when given no rows, and planned with no Python
    RDD scan — createDataFrame over a Python list starts a Python worker
    per default-parallelism slice on every scan."""
    from pyspark.sql import types as T

    from fest_vibes_ai_etl_spark.streaming.state_store import literal_frame

    keys = literal_frame(spark, [("7", 3), ("9", 1)], "doc_id string, rev int")
    assert [f.dataType.simpleString() for f in keys.schema.fields] == [
        "string", "int",
    ]
    assert sorted(tuple(r) for r in keys.collect()) == [("7", 3), ("9", 1)]
    rows = literal_frame(
        spark, [(5, None)],
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("fp", T.StringType())]),
    )
    assert [tuple(r) for r in rows.collect()] == [(5, None)]
    empty = literal_frame(spark, [], "doc_id bigint")
    assert empty.schema.simpleString() == "struct<doc_id:bigint>"
    assert empty.count() == 0
    plan = keys._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "splits=1" in plan
