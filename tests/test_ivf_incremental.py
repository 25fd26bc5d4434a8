"""Incremental IVF index maintenance: streamed vectors join the persisted
cell-partitioned index without a rebuild, become probe-visible, and replays
converge (no duplicate ids)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR

from fest_vibes_ai_etl_spark.operators import ivf
from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming.state_store import start_stream


def _run(spark, src, index_dir, centers, ckpt):
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_stream(ivf.make_index_add_processor(index_dir, centers), stream, ckpt)
    assert q.awaitTermination(120), "stream did not finish in 120s"


def test_incremental_index_add_and_probe(spark, tmp_path):
    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter("vec_id < 400")
    newer = emb.filter("vec_id >= 400")

    # offline build on the base corpus only
    assigned, centers = ivf.build_ivf_index(base, k=8, seed=7)
    index_dir = str(tmp_path / "index")
    assigned.repartition("cell_id").write.partitionBy("cell_id").parquet(index_dir)

    # stream the remaining vectors in as two batches (with an overlap replay)
    src = str(tmp_path / "src")
    newer.filter("vec_id < 450").coalesce(1).write.parquet(src)
    newer.filter("vec_id >= 430").coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, index_dir, centers, str(tmp_path / "ckpt1"))

    stored = spark.read.parquet(index_dir)
    n_total = emb.count()
    # every vector present exactly once despite the 430-449 overlap
    assert stored.count() == n_total
    assert stored.select("vec_id").distinct().count() == n_total

    # streamed vectors are probe-visible: querying one of them returns
    # neighbors, and full-probe equals brute force over the WHOLE corpus
    queries = emb.filter(F.col("vec_id") >= 495)
    got = ivf.ivf_topk(stored, centers, queries, topk=3, nprobe=8).collect()
    assert {r.query_id for r in got} == {r.vec_id for r in queries.collect()}

    from fest_vibes_ai_etl_spark.operators.similarity import topk_cosine

    exact = topk_cosine(emb, queries, k=3)
    assert sorted((r.query_id, r.vec_id, r.rk) for r in got) == sorted(
        (r.query_id, r.vec_id, r.rk) for r in exact.collect()
    )

    # replay under a fresh checkpoint appends nothing
    _run(spark, src, index_dir, centers, str(tmp_path / "ckpt2"))
    assert spark.read.parquet(index_dir).count() == n_total


def test_incremental_add_uses_direct_appends_and_sweeps_temps(spark, tmp_path):
    """Round-10 scale seams, observable on disk: streamed cells land as
    deterministic direct-append files (part-{appendid}-b{cell}.parquet —
    the executor-side pyarrow path, not the committer's task files), a
    crashed append's _tmp- leftover in a touched cell is swept by the
    next batch and never double-counts rows, and the batch-pruned replay
    guard still converges a replay."""
    import os
    import re

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter("vec_id < 400")
    assigned, centers = ivf.build_ivf_index(base, k=8, seed=7)
    index_dir = str(tmp_path / "index")
    assigned.repartition("cell_id").write.partitionBy("cell_id").parquet(index_dir)

    src = str(tmp_path / "src")
    emb.filter("vec_id >= 400 and vec_id < 450").coalesce(1).write.parquet(src)
    _run(spark, src, index_dir, centers, str(tmp_path / "ckpt1"))

    direct_pat = re.compile(r"^part-[0-9a-f]{32}-b\d+\.parquet$")
    direct_files = [
        f
        for cell in os.listdir(index_dir)
        if cell.startswith("cell_id=")
        for f in os.listdir(os.path.join(index_dir, cell))
        if direct_pat.match(f)
    ]
    assert direct_files, "incremental adds should take the direct-append path"

    # plant a crash leftover in a cell the NEXT batch will touch, plus
    # one in a cell it won't: only the touched one is swept (the sweep
    # is batch-bounded by design), and neither is ever read
    next_batch = emb.filter("vec_id >= 450 and vec_id < 500")
    touched = sorted(
        r.cell_id
        for r in ivf.assign_to_centers(next_batch, centers)
        .select("cell_id")
        .distinct()
        .collect()
    )
    untouched = [
        int(c.split("=")[1])
        for c in os.listdir(index_dir)
        if c.startswith("cell_id=") and int(c.split("=")[1]) not in touched
    ]
    junk_touched = os.path.join(index_dir, f"cell_id={touched[0]}", "_tmp-dead.parquet")
    with open(junk_touched, "wb") as fh:
        fh.write(b"torn partial bytes")
    junk_other = None
    if untouched:
        junk_other = os.path.join(
            index_dir, f"cell_id={untouched[0]}", "_tmp-beef.parquet"
        )
        with open(junk_other, "wb") as fh:
            fh.write(b"torn partial bytes")
    before = spark.read.parquet(index_dir).count()
    assert before == 450  # temps invisible to readers

    next_batch.coalesce(1).write.mode("append").parquet(src)
    # SAME checkpoint: the continuing stream processes only the new file,
    # so the sweep's bound is exactly this batch's cells
    _run(spark, src, index_dir, centers, str(tmp_path / "ckpt1"))
    assert not os.path.exists(junk_touched)  # swept by the touched-cell walk
    if junk_other:
        assert os.path.exists(junk_other)  # untouched cells aren't walked
    stored = spark.read.parquet(index_dir)
    assert stored.count() == 500
    assert stored.select("vec_id").distinct().count() == 500


def test_add_replays_converge_to_assignment(spark, tmp_path):
    """Adds, a replay and a partial overlap must leave exactly the
    independent reference assignment: every vec_id < 500 stored once,
    in the cell numpy's argmax(X @ C.T) picks for its embedding — the
    cell-pruned replay guard is a read-scope optimization, never a
    semantic change, because a frozen quantizer pins a replayed id to
    its stored cell."""
    import numpy as np

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter("vec_id < 400")
    assigned, centers = ivf.build_ivf_index(base, k=8, seed=7)
    index_dir = str(tmp_path / "index")
    assigned.repartition("cell_id").write.partitionBy("cell_id").parquet(index_dir)
    process = ivf.make_index_add_processor(index_dir, centers)
    batch = emb.filter("vec_id >= 400 and vec_id < 460")
    process(batch, 0)
    process(batch, 1)  # replay: must append nothing
    overlap = emb.filter("vec_id >= 440 and vec_id < 500")
    process(overlap, 2)  # partial overlap: only 460-499 are new
    stored = sorted(
        (r.vec_id, r.cell_id)
        for r in spark.read.parquet(index_dir).select("vec_id", "cell_id").collect()
    )

    rows = sorted(
        (r.vec_id, r.embedding)
        for r in emb.filter("vec_id < 500").collect()
    )
    X = np.asarray([e for _, e in rows], dtype=np.float64)
    cells = np.argmax(X @ np.asarray(centers, dtype=np.float64).T, axis=1)
    want = [(vid, int(c)) for (vid, _), c in zip(rows, cells)]
    assert len(want) == 500
    assert stored == want  # each id exactly once, in its reference cell


def test_incremental_add_committer_fallback_converges(spark, tmp_path, monkeypatch):
    """When no trusted pyarrow mapping exists the processor must take the
    committer write and still converge a replay — slower, never wrong."""
    from fest_vibes_ai_etl_spark.streaming import banded_index as bi

    monkeypatch.setattr(
        bi,
        "_resolve_direct_destination",
        lambda spark_, path: (None, None, "forced-untrusted (test)"),
    )
    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter("vec_id < 400")
    assigned, centers = ivf.build_ivf_index(base, k=8, seed=7)
    index_dir = str(tmp_path / "index")
    assigned.repartition("cell_id").write.partitionBy("cell_id").parquet(index_dir)
    process = ivf.make_index_add_processor(index_dir, centers)
    batch = emb.filter("vec_id >= 400 and vec_id < 460")
    process(batch, 0)
    process(batch, 1)  # replay appends nothing
    stored = spark.read.parquet(index_dir)
    assert stored.count() == 460
    assert stored.select("vec_id").distinct().count() == 460


def test_layout_meta_written_and_retrained_centers_refused(spark, tmp_path):
    """Round-11 config-drift guard (the class the banded index closed in
    r8): the processor persists _meta.json with a centers fingerprint and
    REFUSES a quantizer that contradicts it — a re-trained centers matrix
    over an existing index_dir would make the cell-pruned replay guard
    append silent duplicates and strand stored vectors in unprobed cells."""
    import json
    import os

    import pytest

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter("vec_id < 300")
    _, centers = ivf.build_ivf_index(base, k=8, seed=7)
    index_dir = str(tmp_path / "index")

    # fresh dir: meta written FIRST (nothing in it is data-derived)
    process = ivf.make_index_add_processor(index_dir, centers)
    process(emb.filter("vec_id < 100"), 0)
    with open(os.path.join(index_dir, "_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["centers_fingerprint"] == ivf.centers_fingerprint(centers)
    assert meta["k"] == len(centers) and meta["id_col"] == "vec_id"

    # same centers, new instance: validates and appends fine
    process2 = ivf.make_index_add_processor(index_dir, centers)
    process2(emb.filter("vec_id >= 100 and vec_id < 150"), 0)
    assert spark.read.parquet(index_dir).count() == 150

    # re-trained quantizer (different seed => different fingerprint):
    # refused loudly at the first batch, nothing appended
    _, retrained = ivf.build_ivf_index(base, k=8, seed=99)
    assert ivf.centers_fingerprint(retrained) != ivf.centers_fingerprint(centers)
    bad = ivf.make_index_add_processor(index_dir, retrained)
    with pytest.raises(ivf.IVFIndexLayoutError, match="centers_fingerprint"):
        bad(emb.filter("vec_id >= 150 and vec_id < 200"), 0)
    assert spark.read.parquet(index_dir).count() == 150

    # a different k is a fingerprint change too
    _, fewer = ivf.build_ivf_index(base, k=4, seed=7)
    with pytest.raises(ivf.IVFIndexLayoutError, match="k=8.*k=4"):
        ivf.make_index_add_processor(index_dir, fewer)(
            emb.filter("vec_id >= 150 and vec_id < 200"), 0
        )
    # column-name drift is refused by name, not fingerprint
    with pytest.raises(ivf.IVFIndexLayoutError, match="id_col"):
        ivf.make_index_add_processor(
            index_dir, centers, id_col="doc_id", vec_col="embedding"
        )(
            emb.filter("vec_id >= 150 and vec_id < 200").withColumnRenamed(
                "vec_id", "doc_id"
            ),
            0,
        )


def test_legacy_index_adopted_by_sample_verify_or_refused(spark, tmp_path):
    """An index built OFFLINE (no _meta.json — the r10 shape) is adopted
    when the caller's centers reproduce a sample of its stored (vec, cell)
    assignments — assignment is deterministic, so the claim is verifiable
    from data, unlike the banded index's n_bands — and refused when a
    different quantizer contradicts them."""
    import os

    import pytest

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter("vec_id < 300")
    assigned, centers = ivf.build_ivf_index(base, k=8, seed=7)

    # adoption: right centers pass the sample check and pin the meta
    idx_ok = str(tmp_path / "ok")
    assigned.repartition("cell_id").write.partitionBy("cell_id").parquet(idx_ok)
    assert not os.path.exists(os.path.join(idx_ok, "_meta.json"))
    ivf.make_index_add_processor(idx_ok, centers)(
        emb.filter("vec_id >= 300 and vec_id < 320"), 0
    )
    assert os.path.exists(os.path.join(idx_ok, "_meta.json"))
    assert spark.read.parquet(idx_ok).count() == 320

    # refusal: a re-trained quantizer contradicts the stored assignments
    idx_bad = str(tmp_path / "bad")
    assigned.repartition("cell_id").write.partitionBy("cell_id").parquet(idx_bad)
    _, retrained = ivf.build_ivf_index(base, k=8, seed=99)
    with pytest.raises(ivf.IVFIndexLayoutError, match="different quantizer"):
        ivf.make_index_add_processor(idx_bad, retrained)(
            emb.filter("vec_id >= 300 and vec_id < 320"), 0
        )
    assert not os.path.exists(os.path.join(idx_bad, "_meta.json"))


def test_first_batch_crash_empty_cell_dirs_do_not_wedge_replay(spark, tmp_path):
    """Round-11 replay-wedge fix: a first-batch (or early) crash after
    the direct append's create_dir but before any final rename
    leaves touched cell directories holding only _tmp- staging files. The
    sweep empties them; the guard read must then SKIP those cells (schema
    inference over zero data files throws) — otherwise every replay hits
    the identical error and the stream is wedged in exactly the crash case
    the replays-converge contract covers."""
    import os

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter("vec_id < 300")
    _, centers = ivf.build_ivf_index(base, k=8, seed=7)
    index_dir = str(tmp_path / "index")

    batch = emb.filter("vec_id < 60")
    touched = sorted(
        r.cell_id
        for r in ivf.assign_to_centers(batch, centers)
        .select("cell_id")
        .distinct()
        .collect()
    )
    # the crash state: meta landed (meta-first), every touched cell dir
    # created, one staged temp, NO final files anywhere
    os.makedirs(index_dir)
    proc0 = ivf.make_index_add_processor(index_dir, centers)
    for c in touched:
        os.makedirs(os.path.join(index_dir, f"cell_id={c}"))
    with open(
        os.path.join(index_dir, f"cell_id={touched[0]}", "_tmp-dead.parquet"), "wb"
    ) as fh:
        fh.write(b"torn partial bytes")

    for _ in range(2):
        # the replay converges instead of throwing; the second attempt
        # replays over a now-populated index and must append nothing
        proc = ivf.make_index_add_processor(index_dir, centers)
        proc(batch, 0)
        stored = spark.read.parquet(index_dir)
        assert stored.count() == 60
        assert stored.select("vec_id").distinct().count() == 60
    assert not os.path.exists(
        os.path.join(index_dir, f"cell_id={touched[0]}", "_tmp-dead.parquet")
    )
    del proc0


def test_processor_plumbs_fs_options_and_caches_resolution(
    spark, tmp_path, monkeypatch
):
    """make_index_add_processor must hand fs_options to the direct
    append's executor writer (round 11 — before it, S3-compatible
    endpoints silently fell back to the committer here) and resolve the
    destination ONCE, so the pyarrow construction probe doesn't rerun per
    micro-batch."""
    from fest_vibes_ai_etl_spark.streaming import banded_index as bi

    calls = []
    real = bi._make_band_writer

    def spy(dests):
        calls.append(dests)
        return real(dests)

    monkeypatch.setattr(bi, "_make_band_writer", spy)
    resolutions = []
    real_resolve = bi._resolve_direct_destination

    def counting_resolve(spark_, path):
        resolutions.append(path)
        return real_resolve(spark_, path)

    monkeypatch.setattr(bi, "_resolve_direct_destination", counting_resolve)

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    _, centers = ivf.build_ivf_index(emb.filter("vec_id < 300"), k=8, seed=7)
    index_dir = str(tmp_path / "index")
    opts = {"endpoint_override": "http://example.invalid:9000"}
    process = ivf.make_index_add_processor(index_dir, centers, fs_options=opts)
    process(emb.filter("vec_id < 40"), 0)
    process(emb.filter("vec_id >= 40 and vec_id < 80"), 1)
    assert [d[0]["fs_options"] for d in calls] == [opts, opts]
    assert all((d[0]["kind"], d[0]["dest"]) == ("local", index_dir) for d in calls)
    assert len(resolutions) == 1  # probed once, cached across batches
    assert spark.read.parquet(index_dir).count() == 80


def test_staleness_metrics_flag_drifted_adds_and_recall_floor(spark, tmp_path):
    """Round-11 quantizer-staleness metric: adds under a frozen quantizer
    degrade as the vector distribution drifts, and the metrics hook must
    SEE it. Drift here is maximal and deterministic — vectors drawn from
    the null space of the centroid matrix (orthogonal to every centroid,
    so top-1 centroid sim is ~0) — versus an in-distribution batch from
    the same table the quantizer was fit on. Asserts the discrimination
    the documented re-train trigger relies on, plus recall floors on an
    index grown by the drifted adds: full probe stays exact (drifted
    vectors remain findable — they land in SOME cell), while the
    nprobe-limited probe measurably degrades, which is precisely why the
    trigger exists."""
    import numpy as np

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter("vec_id < 300")
    assigned, centers = ivf.build_ivf_index(base, k=8, seed=7)

    C = np.asarray(centers, dtype=np.float64)
    _, _, Vt = np.linalg.svd(C, full_matrices=True)
    null_basis = Vt[len(centers):]
    rng = np.random.default_rng(123)
    W = rng.normal(size=(100, null_basis.shape[0])) @ null_basis
    W /= np.linalg.norm(W, axis=1, keepdims=True)
    drift = spark.createDataFrame(
        [(10000 + i, [float(x) for x in W[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )

    index_dir = str(tmp_path / "index")
    assigned.repartition("cell_id").write.partitionBy("cell_id").parquet(index_dir)
    metrics: dict = {}
    process = ivf.make_index_add_processor(index_dir, centers, metrics=metrics)

    process(emb.filter("vec_id >= 300 and vec_id < 400"), 0)
    indist_top1 = metrics["last_mean_top1_sim"]
    indist_margin = metrics["last_mean_margin"]
    assert metrics["batches"] == 1 and metrics["n_vectors"] == 100
    assert indist_top1 > 0.05 and metrics["last_cell_skew"] >= 1.0

    process(drift, 1)
    assert metrics["batches"] == 2 and metrics["n_vectors"] == 200
    # the drift signal: orthogonal-to-every-centroid vectors read ~0
    assert metrics["last_mean_top1_sim"] < 0.5 * indist_top1
    assert metrics["last_mean_margin"] < 0.5 * indist_margin
    # ~0 up to float32 storage rounding of the drifted vectors
    assert abs(metrics["last_mean_top1_sim"]) < 1e-6

    # recall on the grown index: full probe exact, pruned probe degraded
    # but above the floor (measured 0.633 at nprobe=4 for this seed)
    from fest_vibes_ai_etl_spark.operators.similarity import topk_cosine

    stored = spark.read.parquet(index_dir)
    assert stored.count() == 500
    queries = drift.filter("vec_id >= 10080")
    corpus = stored.select("vec_id", "embedding")
    exact = {
        (r.query_id, r.vec_id) for r in topk_cosine(corpus, queries, k=3).collect()
    }
    full = {
        (r.query_id, r.vec_id)
        for r in ivf.ivf_topk(stored, centers, queries, topk=3, nprobe=8).collect()
    }
    assert full == exact  # adds remain findable: full probe is exact
    pruned = {
        (r.query_id, r.vec_id)
        for r in ivf.ivf_topk(stored, centers, queries, topk=3, nprobe=4).collect()
    }
    recall = len(pruned & exact) / len(exact)
    assert 0.5 <= recall < 1.0, recall  # degraded — the trigger's point


def test_empty_batch_records_batch_but_no_vector_stats(spark, tmp_path):
    """An empty micro-batch must not poison the staleness means (0/0) —
    it counts as a batch, records no vector stats, and appends nothing."""
    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    _, centers = ivf.build_ivf_index(emb.filter("vec_id < 300"), k=8, seed=7)
    index_dir = str(tmp_path / "index")
    metrics: dict = {}
    process = ivf.make_index_add_processor(index_dir, centers, metrics=metrics)
    process(emb.filter("vec_id < 0"), 0)
    assert metrics == {"batches": 1}


def test_numpy_centers_matrix_accepted_end_to_end(spark, tmp_path):
    """centers_fingerprint advertises numpy support and assign/probe accept
    ndarrays — the layout check must too (`if centers` on a matrix raises
    'truth value of an array is ambiguous')."""
    import numpy as np

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    _, centers = ivf.build_ivf_index(emb.filter("vec_id < 300"), k=8, seed=7)
    C = np.asarray(centers, dtype=np.float64)
    assert ivf.centers_fingerprint(C) == ivf.centers_fingerprint(centers)
    index_dir = str(tmp_path / "index")
    process = ivf.make_index_add_processor(index_dir, C)
    process(emb.filter("vec_id < 50"), 0)
    assert spark.read.parquet(index_dir).count() == 50
    # and the mismatch message path is ndarray-safe too
    import pytest

    _, other = ivf.build_ivf_index(emb.filter("vec_id < 300"), k=8, seed=99)
    with pytest.raises(ivf.IVFIndexLayoutError, match="centers_fingerprint"):
        ivf.make_index_add_processor(
            index_dir, np.asarray(other, dtype=np.float64)
        )(emb.filter("vec_id >= 50 and vec_id < 60"), 0)


def test_steady_add_batch_job_count_bounded(spark, tmp_path):
    """Job-count canary for the IVF add path (5 measured steady-state: the
    touched-cells collect, the guard read + anti-join + append, and AQE
    stage jobs; 8 allows planner drift). Catches re-introduction of
    per-batch full-index reads, a third evaluation of the assignment
    lineage, or per-cell job fan-out at test time instead of on the
    scaling tool."""
    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    assigned, centers = ivf.build_ivf_index(emb.filter("vec_id < 300"), k=8, seed=7)
    index_dir = str(tmp_path / "idx")
    assigned.repartition("cell_id").write.partitionBy("cell_id").parquet(index_dir)
    process = ivf.make_index_add_processor(index_dir, centers)
    process(emb.filter("vec_id >= 300 and vec_id < 350"), 0)  # warm
    sc = spark.sparkContext
    sc.setJobGroup("steady_ivf", "counted steady batch")
    try:
        process(emb.filter("vec_id >= 350 and vec_id < 400"), 1)
    finally:
        sc.setJobGroup("steady_ivf_done", "after")
    n = len(sc.statusTracker().getJobIdsForGroup("steady_ivf"))
    assert 0 < n <= 8, f"steady IVF add batch submitted {n} Spark jobs"
