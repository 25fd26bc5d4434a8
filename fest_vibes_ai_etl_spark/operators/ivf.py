"""IVF (inverted-file) approximate nearest-neighbor search.

The scale path for similarity search beyond random-hyperplane LSH: a coarse
quantizer (KMeans, seeded/deterministic) partitions the corpus into cells;
each query probes only its ``nprobe`` nearest cells and exact-reranks
within. Corpus scan cost drops from O(N) to O(N·nprobe/k).

Spark shape (the FAISS-style split): the coarse quantizer is FIT on a small
deterministic sample driver-side (seeded numpy Lloyd — at 100 TB nobody fits
k-means on the full corpus; a few thousand sampled vectors bound the
centroid error), then the full corpus is ASSIGNED distributively with one
Arrow-batched pandas UDF pass (argmax of a batch×k matrix product). The
produced (cell_id, vec) table is ideally *partitioned by cell_id* so a probe
reads only its cells' files; queries broadcast-join against the probed
cells. No pyspark.ml on the path — the fit is pure numpy, the assignment one
vectorized scan.

The cell store is also streaming state: :func:`make_index_add_processor`
adds vectors under the frozen quantizer per micro-batch, guarded against
replays by an anti-join over the batch's own cells only, and lands them
through the index stores' shared ``PartitionedAppend``
(``streaming/banded_index.py``). Updates go through
:func:`revise_ivf_vector` (folded in by :func:`absorb_ivf_revisions`),
deletes through :func:`delete_from_ivf_index`; a re-train/rebuild absorbs
both. Those three ops are the versioned-identity protocol owned by
``streaming/revisions.py`` (shared with the search index); this module
supplies only the quantizer check, the cell assignment and the
``cell_id=`` dirs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf

from ..functions import vector as V
from ..streaming.revisions import (
    absorb,
    apply_revisions,
    burn,
    latest_rows,
    partitions_holding,
    read_or_empty,
    read_revisions,
    revise,
    sidecar_dir,
)
from ..streaming.state_store import has_data_files
from ..streaming.writer_lease import fenced


def _fit_spherical_kmeans(X, k: int, seed: int, max_iter: int):
    """Seeded spherical Lloyd on an (n, d) float64 array. Deterministic:
    same sample + seed => bitwise-identical centers. Empty cells keep their
    previous centroid."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = X.shape[0]
    k = min(k, n)
    C = X[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(max_iter):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    C[c] = m / norm
    return C


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    fit_sample: int = 4096,
):
    """Fit the coarse quantizer and assign every corpus vector to a cell.
    Returns (assigned_df with cell_id, centers: list[list[float]]).

    Spherical k-means: vectors are L2-normalized so cells on the unit sphere
    track cosine neighborhoods regardless of input magnitudes. The fit runs
    on a hash-ordered sample of ``fit_sample`` vectors (deterministic — no
    driver RNG state beyond the seed); the assignment pass is the one-off
    index build, amortized over every subsequent query batch in deployment
    (persist ``assigned`` partitioned by cell_id)."""
    import numpy as np

    norm = corpus.select(
        F.col(id_col), V.l2_normalize(F.col(vec_col)).alias(vec_col)
    )
    sample = (
        norm.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(fit_sample)
        .select(vec_col)
        .toPandas()  # Arrow path — row-based collect() is ~3× slower here
    )
    X = np.vstack(sample[vec_col].to_numpy()).astype(np.float64)
    C = _fit_spherical_kmeans(X, k=k, seed=seed, max_iter=max_iter)
    centers = [[float(x) for x in c] for c in C]

    @pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        import numpy as np  # self-contained: runs on executors without the pkg

        Cm = np.asarray(centers, dtype=np.float64)
        Xb = np.vstack(vs.to_numpy()).astype(np.float64)
        return pd.Series(np.argmax(Xb @ Cm.T, axis=1).astype("int32"))

    assigned = norm.select(
        F.col(id_col), F.col(vec_col), _assign(F.col(vec_col)).alias("cell_id")
    )
    return assigned, centers


def probe_candidates(
    assigned: DataFrame,
    centers: list[list[float]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """(query_id, qv, <assigned cols>) — each query's candidate rows from
    its ``nprobe`` closest cells (by centroid cosine), self-matches
    excluded. The cell-gating half of IVF, shared by the exact-rerank probe
    (``ivf_topk``) and the compressed-domain IVF-PQ probe (ADC ranking over
    the candidates' PQ codes)."""
    spark = assigned.sparkSession
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cell_id int, center array<double>",
    )
    # qn precomputed once per query (round 14): the candidate scorer and
    # the cell ranker would otherwise re-aggregate norm(qv) per joined row.
    # Name-based expr builders (V.dot_n/norm_n): the lambda forms cost
    # ~70 ms of driver plan-construction EACH (see functions/vector.py).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        V.norm_n(vec_col).alias("qn"),
    )
    # rank cells per query by centroid similarity, keep nprobe
    q_cells = (
        q.crossJoin(broadcast(centers_df))
        .withColumn(
            "c_sim",
            V.dot_n("qv", "center") / (F.col("qn") * V.norm_n("center")),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("c_sim"), "cell_id")
            ),
        )
        .filter(F.col("rk") <= nprobe)
        .select("query_id", "qv", "qn", "cell_id")
    )
    return assigned.join(broadcast(q_cells), "cell_id").filter(
        F.col(id_col) != F.col("query_id")
    )


def ivf_topk(
    assigned: DataFrame,
    centers: list[list[float]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: each query scans only its ``nprobe``
    closest cells (by centroid cosine), exact rerank within. The centroid
    table rides along as a tiny broadcast-joined DataFrame, not a literal
    array expression — k·d inline literals force Janino to compile a
    megabyte of generated code per run (measured ~2 s at 16×64)."""
    cand = probe_candidates(
        assigned, centers, queries, id_col=id_col, vec_col=vec_col, nprobe=nprobe
    )
    # Corpus-side norm as a per-row column + the query-side qn carried by
    # probe_candidates: the rerank evaluates ONE dot per pair instead of
    # three array aggregates (same doubles, same op order — bit-identical).
    scored = (
        cand.withColumn("cn", V.norm_n(vec_col))
        .withColumn(
            "cos6",
            F.round(V.dot_n("qv", vec_col) / (F.col("qn") * F.col("cn")), 6),
        )
        .select("query_id", F.col(id_col).alias("vec_id"), "cos6")
    )
    # map-side pruned ranking: only topk·|Q| rows per partition reach the
    # shuffle, not the full probed-candidate set (operators/topk.py).
    from .topk import topk_per_group

    return topk_per_group(scored, ["query_id"], "cos6", "vec_id", topk).select(
        "query_id", "vec_id", F.round("cos6", 4).alias("cosine"), "rk"
    )


# --- persisted index: build once, probe many -------------------------------

_WAREHOUSE = None


def _warehouse_root() -> str:
    """Index artifacts live under the repo's spark-warehouse (gitignored)."""
    global _WAREHOUSE
    if _WAREHOUSE is None:
        import os

        repo = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        _WAREHOUSE = os.path.join(repo, "spark-warehouse", "ivf_index")
    return _WAREHOUSE


def index_path(sf_dir: str, k: int, seed: int, max_iter: int, fit_sample: int) -> str:
    """Keyed by (sf basename, params, SOURCE FINGERPRINT): the fingerprint
    covers the embeddings parquet's full file listing (name/size/mtime per
    data file) so a regenerated dataset can never silently serve a stale
    index — it simply keys a fresh build. An unstattable source raises."""
    import os

    from ..fingerprint import source_fingerprint

    tag = os.path.basename(sf_dir.rstrip("/")) or "root"
    stamp = "_" + source_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
    return os.path.join(
        _warehouse_root(), f"{tag}_k{k}_s{seed}_i{max_iter}_f{fit_sample}{stamp}"
    )


def load_or_build_index(
    spark,
    corpus: DataFrame,
    sf_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    fit_sample: int = 4096,
):
    """FAISS-style build/probe split, persisted: the one-off quantizer fit +
    assignment pass writes ``assigned`` PARTITIONED BY cell_id (so a probe's
    broadcast join prunes to its cells' files via dynamic partition pruning)
    plus ``centers.json``; every subsequent call is a metadata-only load and
    the query path does NO ``toPandas``/fit. Keyed by (sf basename, params) —
    deterministic seed means rebuild ≡ reuse."""
    import json
    import os

    path = index_path(sf_dir, k, seed, max_iter, fit_sample)
    centers_file = os.path.join(path, "centers.json")
    assigned_dir = os.path.join(path, "assigned")
    if os.path.exists(centers_file) and os.path.exists(
        os.path.join(assigned_dir, "_SUCCESS")
    ):
        with open(centers_file) as fh:
            centers = json.load(fh)
        return spark.read.parquet(assigned_dir), centers

    assigned, centers = build_ivf_index(
        corpus, id_col=id_col, vec_col=vec_col, k=k, seed=seed,
        max_iter=max_iter, fit_sample=fit_sample,
    )
    # repartition by cell before the partitioned write: one tidy file per
    # cell instead of (shuffle.partitions × cells) shards — at 100 TB the
    # small-file explosion, not the write itself, is what kills the probe.
    assigned.repartition("cell_id").write.mode("overwrite").partitionBy(
        "cell_id"
    ).parquet(assigned_dir)
    os.makedirs(path, exist_ok=True)
    tmp = centers_file + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(centers, fh)
    os.replace(tmp, centers_file)
    return spark.read.parquet(assigned_dir), centers


def assign_to_centers(vectors: DataFrame, centers: list[list[float]],
                      id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign (id, vec) rows to the EXISTING coarse quantizer's cells — the
    incremental index-add path (FAISS ``add`` without ``train``): vectors
    are L2-normalized and argmax-assigned in one Arrow-batched pass against
    the frozen centroid matrix. Returns (id, vec, cell_id)."""
    norm = vectors.select(
        F.col(id_col), V.l2_normalize(F.col(vec_col)).alias(vec_col)
    )

    @pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vs) == 0:  # empty Arrow batch: np.vstack raises on ()
            return pd.Series([], dtype="int32")
        Cm = np.asarray(centers, dtype=np.float64)
        Xb = np.vstack(vs.to_numpy()).astype(np.float64)
        return pd.Series(np.argmax(Xb @ Cm.T, axis=1).astype("int32"))

    return norm.select(
        F.col(id_col), F.col(vec_col), _assign(F.col(vec_col)).alias("cell_id")
    )


class IVFIndexLayoutError(RuntimeError):
    """The on-disk incremental-add index contradicts the caller's quantizer
    configuration. Appending across the mismatch is silent corruption: the
    cell-pruned replay guard trusts that a frozen quantizer pins a replayed
    id to its stored cell, so a re-trained (or fat-fingered k/seed)
    ``centers`` matrix over an existing ``index_dir`` makes replays append
    duplicates, and probes computed under the new centers miss every vector
    stored under the old ones — hence a loud error instead. Rebuild the
    index under the new quantizer (the corpus is authoritative; the index
    is always derivable from it), or point at a fresh directory."""


def centers_fingerprint(centers: list[list[float]]) -> str:
    """Canonical fingerprint of a coarse-quantizer centers matrix: sha256
    over the float64 bytes + shape, so lists, tuples, and numpy arrays of
    the same values fingerprint identically."""
    import hashlib

    import numpy as np

    C = np.asarray(centers, dtype=np.float64)
    h = hashlib.sha256()
    h.update(repr(C.shape).encode("ascii"))
    h.update(C.tobytes())
    return h.hexdigest()


def _check_add_layout(
    spark,
    fs,
    jvm,
    index_dir: str,
    centers: list[list[float]],
    id_col: str,
    vec_col: str,
    id_type: str | None = None,
) -> None:
    """Reconcile the caller's quantizer with the on-disk index, once per
    processor instance (same config-drift guard class as
    ``BandedFingerprintIndex._check_layout``, see
    ``streaming/banded_index.py``):

    - ``_meta.json`` present → the stored ``centers_fingerprint`` /
      ``id_col`` / ``vec_col`` must match exactly, else
      :class:`IVFIndexLayoutError`;
    - meta absent but cell data present (an index built offline, or by a
      pre-round-11 processor) → the claim IS verifiable here, unlike the
      banded index's n_bands: assignment is a deterministic function of
      (vector, centers), so a bounded sample of stored ``(vec, cell_id)``
      rows is re-assigned under the caller's centers and any mismatch
      refuses. On a clean pass the meta is written, pinning the
      fingerprint so all future drift is exact-checked;
    - nothing on disk → the meta is written FIRST (before any data):
      unlike the banded index's n_bands it encodes nothing data-derived,
      so meta-then-data has no unverifiable-claim crash window — a death
      in between leaves a meta over an empty index, which is simply the
      layout the next batch appends under.
    """
    from ..streaming.banded_index import hadoop_read_json, hadoop_write_json
    from ..streaming.state_store import meta_mismatches

    import numpy as np

    fp = centers_fingerprint(centers)
    meta_path = index_dir.rstrip("/") + "/_meta.json"
    meta = hadoop_read_json(spark, meta_path)
    if meta is not None:
        # the families' shared mismatch computation (state_store), with
        # the fingerprint diff enriched by the human-readable shape
        errs = meta_mismatches(meta, {"id_col": id_col, "vec_col": vec_col})
        # len()-based emptiness: `if centers` raises on a numpy matrix,
        # which centers_fingerprint explicitly supports
        dim = len(centers[0]) if len(centers) else 0
        if meta.get("centers_fingerprint") != fp:
            errs.append(
                f"centers_fingerprint: stored {meta.get('centers_fingerprint')!r}"
                f" != {fp!r} (k={meta.get('k')}/dim={meta.get('dim')} stored vs"
                f" k={len(centers)}/dim={dim} passed)"
            )
        if errs:
            raise IVFIndexLayoutError(
                f"IVF add index {index_dir} layout mismatch — appending "
                f"across it would silently duplicate replays and strand "
                f"stored vectors in unprobed cells: " + "; ".join(errs)
            )
        if id_type and "id_type" not in meta:
            # backfill the advisory field onto pre-advisory metas, or
            # string-keyed stores' delete fallback degrades to bigint
            meta = dict(meta)
            meta["id_type"] = id_type
            hadoop_write_json(spark, meta_path, meta)
        return
    root = jvm.org.apache.hadoop.fs.Path(index_dir)
    has_data = fs.exists(root) and any(
        st.getPath().getName().startswith("cell_id=")
        and has_data_files(spark, str(st.getPath()))
        for st in fs.listStatus(root)
    )
    if has_data:
        # legacy adoption: verify the claim against a bounded sample
        stored = (
            spark.read.parquet(index_dir)
            .select(vec_col, "cell_id")
            .limit(2048)
            .collect()
        )
        if stored:
            C = np.asarray(centers, dtype=np.float64)
            X = np.vstack(
                [np.asarray(r[vec_col], dtype=np.float64) for r in stored]
            )
            got = np.argmax(X @ C.T, axis=1)
            want = np.asarray([r.cell_id for r in stored])
            bad = int((got != want).sum())
            if bad:
                raise IVFIndexLayoutError(
                    f"IVF add index {index_dir} predates layout metadata and "
                    f"the passed centers CONTRADICT its data: {bad}/{len(stored)} "
                    f"sampled stored vectors re-assign to a different cell "
                    f"under them — the index was built by a different "
                    f"quantizer; rebuild it (or pass the quantizer it was "
                    f"built with)"
                )
    meta_out = {
        "centers_fingerprint": fp,
        "k": len(centers),
        "dim": len(centers[0]) if len(centers) else 0,
        "id_col": id_col,
        "vec_col": vec_col,
    }
    if id_type:
        # advisory (recorded, never validated): lets delete_from_ivf_index
        # burn correctly-typed ids before any cell data exists
        meta_out["id_type"] = id_type
    hadoop_write_json(spark, meta_path, meta_out)


def _record_staleness_metrics(
    metrics: dict, assigned: DataFrame, centers: list[list[float]], vec_col: str
) -> list[int]:
    """Per-batch quantizer-staleness stats for the incremental add (the
    FAISS train-vs-add split's blind spot: adds under a frozen quantizer
    degrade recall as the vector distribution drifts away from the one
    the centroids were fit on, and nothing else measures it). One extra
    batch-proportional job — a vectorized top-2 centroid-sim pass plus a
    ≤ nlist-row groupBy collect, whose keys double as the batch's sorted
    distinct cell ids (returned, so the caller's touched-cells collect
    folds into this job instead of evaluating the assignment a third
    time) — recording into the caller's dict:

    - ``last_mean_top1_sim``: mean cosine to the assigned centroid. The
      primary drift signal — compare against its value on the build
      corpus; a sustained drop means vectors no longer sit near any
      centroid.
    - ``last_mean_margin``: mean (top1 − top2) centroid-sim gap. Shrinks
      toward 0 as assignments become ambiguous (cell boundaries no
      longer separate the incoming data). A DIFFERENCE rather than the
      top1/top2 ratio: cosine sims can be ≤ 0, where a ratio flips sign
      and misorders; the gap is monotone in assignment confidence
      everywhere. (k=1 indexes record 0 — there is no second cell.)
    - ``last_cell_skew``: hottest cell's share of the batch × nlist
      (1 = uniform). Drifted batches pile into few cells, inflating
      those cells' probe cost and starving the rest.
    - cumulative ``n_vectors`` / ``sum_top1_sim`` / ``sum_margin`` for
      lifetime means, and ``batches``.

    Re-train trigger these feed (documented contract, not automated —
    re-training is an offline decision exactly like FAISS's): alarm when
    ``last_mean_top1_sim`` falls below ~90% of the index build's own
    mean (measure it once at build time on the assigned corpus), or
    ``last_mean_margin`` halves, or ``last_cell_skew`` exceeds ~4 —
    then rebuild via :func:`build_ivf_index` and re-point the stream at
    the fresh directory (the add path's meta refuses the old one)."""

    @pandas_udf("array<double>")
    def _top2(vs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vs) == 0:
            return pd.Series([], dtype=object)
        Cm = np.asarray(centers, dtype=np.float64)
        Xb = np.vstack(vs.to_numpy()).astype(np.float64)
        sims = Xb @ Cm.T
        if sims.shape[1] < 2:
            top1 = sims[:, 0]
            return pd.Series([[float(s), float(s)] for s in top1])
        part = np.partition(sims, sims.shape[1] - 2, axis=1)
        return pd.Series(
            [[float(a), float(b)] for a, b in zip(part[:, -1], part[:, -2])]
        )

    per_cell = (
        assigned.select("cell_id", _top2(F.col(vec_col)).alias("t"))
        .groupBy("cell_id")
        .agg(
            F.count("*").alias("n_vec"),
            F.sum(F.element_at("t", 1)).alias("s_top1"),
            F.sum(F.element_at("t", 1) - F.element_at("t", 2)).alias("s_margin"),
        )
        .collect()
    )
    cells = sorted(r.cell_id for r in per_cell)
    n = sum(r.n_vec for r in per_cell)
    metrics["batches"] = metrics.get("batches", 0) + 1
    if not n:
        return cells
    s_top1 = sum(r.s_top1 for r in per_cell)
    s_margin = sum(r.s_margin for r in per_cell)
    metrics["n_vectors"] = metrics.get("n_vectors", 0) + n
    metrics["sum_top1_sim"] = metrics.get("sum_top1_sim", 0.0) + s_top1
    metrics["sum_margin"] = metrics.get("sum_margin", 0.0) + s_margin
    metrics["last_mean_top1_sim"] = s_top1 / n
    metrics["last_mean_margin"] = s_margin / n
    metrics["last_cell_skew"] = max(r.n_vec for r in per_cell) * len(centers) / n
    return cells


def make_index_add_processor(
    index_dir: str,
    centers: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fs_options: dict | None = None,
    metrics: dict | None = None,
):
    """The ``foreachBatch`` processor adding streamed vectors to the IVF
    index; run it as a stream with ``streaming.state_store.start_stream``,
    or drive micro-batches directly (tests, batch backfills, A/B
    measurement). Each micro-batch of new vectors is
    assigned to the frozen quantizer's cells and appended to the
    cell-partitioned ``assigned`` table that ``ivf_topk`` probes — new
    vectors become searchable at the next probe with NO index rebuild
    (periodic re-train is a separate offline decision, exactly FAISS's
    add-vs-train split). Already-present ids are dropped per batch by an
    anti-join, so replays converge.

    Both per-batch costs are BATCH-proportional, not index-proportional
    (the same two seams the incremental-dedup family closed in rounds
    7-10, see ``streaming/banded_index.py``):

    - the replay guard reads ONLY the batch's own cell directories: the
      quantizer is frozen and assignment deterministic, so a replayed
      vector lands in the same cell it was stored under — other cells
      cannot hold its id. (Corollary of the same contract: the index is
      append-only per id; an UPDATE goes through
      :func:`revise_ivf_vector`, and a re-trained quantizer is a
      rebuild.)
    - the append is the index stores' shared ``PartitionedAppend``
      (``streaming/banded_index.py``): written directly from executors
      instead of through the dynamic-partition committer's
      ~10 ms-per-cell-directory driver-side commit work; a mid-job
      death leaves invisible ``_tmp-`` staging files (swept here,
      bounded to the batch's own cells) and possibly PARTIAL landed
      cells, which the replay's anti-join converges — the guard reads
      exactly the cells any partial files landed in. Untrusted
      filesystems fall back to the committer write, warned once per
      processor instance; the destination probe runs once, not per
      batch.

    Config drift is refused, not absorbed: the index persists a
    ``_meta.json`` (centers fingerprint + column names) validated at the
    first batch — see :func:`_check_add_layout` /
    :class:`IVFIndexLayoutError`.

    ``fs_options`` are extra pyarrow ``S3FileSystem`` constructor options
    for the direct append (endpoint_override / explicit credentials for
    MinIO-class S3-compatible stores and test servers) — the same seam
    ``BandedFingerprintIndex`` exposes.

    ``metrics`` (optional, a plain dict the caller keeps — the dedup
    streams' convention) accumulates per-batch quantizer-staleness
    stats and the re-train trigger they feed: see
    :func:`_record_staleness_metrics`.
    """
    from ..streaming.banded_index import PartitionedAppend

    appender = PartitionedAppend(index_dir, "cell_id", fs_options)
    # per-instance once-only state: layout reconciliation and the stored
    # index's parquet schema (inference re-reads footers for every new
    # cell set — the same per-probe cost the banded index's schema cache
    # removes; the schema is layout-pinned by _meta.json, so caching is
    # sound)
    state: dict = {"checked": False, "schema": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(index_dir)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        if not state["checked"]:
            _check_add_layout(
                spark, fs, jvm, index_dir, centers, id_col, vec_col,
                id_type=batch_df.schema[id_col].dataType.simpleString(),
            )
            state["checked"] = True
        assigned = assign_to_centers(batch_df, centers, id_col, vec_col)
        # the batch's touched cells: bounded by nlist (the quantizer
        # size) by construction, so the collect is driver-safe. The
        # staleness pass doubles as the cells collect (its groupBy keys
        # ARE the distinct cells) so metrics never cost a third
        # evaluation of the assignment lineage; staleness is measured on
        # the INCOMING batch (pre anti-join: replays and updates drift
        # too).
        if metrics is not None:
            cells = _record_staleness_metrics(metrics, assigned, centers, vec_col)
        else:
            cells = sorted(
                r.cell_id
                for r in assigned.select("cell_id").distinct().collect()
            )
        # burned ids: a tombstoned vector id can never be re-added (the
        # delete contract in delete_from_ivf_index) — applied AFTER the
        # staleness pass, which deliberately measures the raw incoming
        # batch, and cheap: one fs stat per batch until a delete exists
        from ..streaming.tombstones import read_tombstones

        tomb = read_tombstones(spark, index_dir, cols=[id_col])
        if tomb is not None:
            # hinted (or not) by read_tombstones' bounded-broadcast escape
            assigned = assigned.join(tomb, id_col, "left_anti")
        # Existence + cell listing through the Hadoop fs API (works on
        # hdfs/s3a too, unlike os.listdir): an explicit probe, not
        # swallowed read errors — a corrupt footer / transient IO failure
        # on an EXISTING index must propagate, or a replayed batch would
        # skip the anti-join and append duplicates, breaking the
        # replays-converge contract exactly when the index is unhealthy.
        from ..streaming.banded_index import hadoop_list_names

        jpath = jvm.org.apache.hadoop.fs.Path
        existing_cells: set[str] = set()
        if fs.exists(root):
            existing_cells = {
                n
                for n in hadoop_list_names(jvm, fs, root)
                if n.startswith("cell_id=")
            }
        touched_existing = [
            f"{index_dir}/cell_id={c}" for c in cells if f"cell_id={c}" in existing_cells
        ]
        # sweep crashed-append temps in the batch's own cells (the only
        # ones a prior attempt of THIS data could have staged into;
        # single-writer discipline makes any temp garbage) — and drop
        # cells left with NO data files from the guard read: a
        # first-attempt death after create_dir but before any final
        # rename leaves exactly such an empty directory, and these rows
        # would otherwise be read as zero rows anyway
        live = []
        for d in touched_existing:
            has_data = False
            for st in fs.listStatus(jpath(d)):
                name = st.getPath().getName()
                if name.startswith("_tmp-"):
                    fs.delete(st.getPath(), False)
                elif not name.startswith(("_", ".")):
                    has_data = True
            if has_data:
                live.append(d)
        if live:
            from ..streaming.banded_index import _read_parquet_dirs

            seen = _read_parquet_dirs(
                spark, fs, index_dir, live, schema=state["schema"]
            )
            if state["schema"] is None:
                state["schema"] = seen.schema
            assigned = assigned.join(seen.select(id_col), id_col, "left_anti")
        appender.append(assigned)

    return process


def _add_meta(spark, index_dir: str, required: bool = False) -> dict | None:
    """The incremental-add index's ``_meta.json`` (None when absent);
    ``required`` refuses a store without one — revise and absorb need its
    pinned quantizer and columns."""
    from ..streaming.banded_index import hadoop_read_json

    meta = hadoop_read_json(spark, index_dir.rstrip("/") + "/_meta.json")
    if meta is None and required:
        raise IVFIndexLayoutError(
            f"no _meta.json under {index_dir}: not an incremental-add IVF "
            f"index — revise and absorb need its pinned quantizer"
        )
    return meta


def _vector_schema(meta: dict, *extra: str) -> str:
    """Spark DDL of the add index's rows (plus ``extra`` columns), typed
    from the meta — the empty frame a store without data reads as."""
    cols = [
        f"{meta['id_col']} {meta.get('id_type', 'bigint')}",
        f"{meta['vec_col']} array<double>",
        "cell_id int",
        *extra,
    ]
    return ", ".join(cols)


@fenced("delete")
def delete_from_ivf_index(spark, index_dir: str, ids: list) -> int:
    """Tombstone vector ids in an incremental-add IVF index — the
    documented IVF delete contract: **tombstone-at-probe, physical
    removal at rebuild**. The cell files are append-only (the frozen-
    quantizer add contract), so a delete appends the ids to a
    ``<index_dir>_tombstones`` sibling; :func:`read_ivf_index` (the probe
    read path) anti-joins them, and the add processor burns them at batch
    entry so a tombstoned id can never be re-added. Physical removal
    happens when the quantizer is re-trained and the index rebuilt from
    the (already-erased) corpus via :func:`build_ivf_index` — the same
    offline event that absorbs updates. Returns how many of the ids are
    currently stored (all requested ids are tombstoned regardless)."""
    meta = _add_meta(spark, index_dir) or {}
    try:
        # the RESOLVED view (revisions applied, prior tombstones
        # excluded), so insert-via-revise vectors register
        resolved = read_ivf_index(spark, index_dir)
    except IVFIndexLayoutError:
        resolved = None  # no layout and no cell data yet: the ids still burn
    return burn(
        spark, index_dir, ids, meta.get("id_col", "vec_id"), resolved,
        meta.get("id_type", "bigint"),
    )


@fenced("revise")
def revise_ivf_vector(
    spark, index_dir: str, centers: list[list[float]], vec_id, new_vec
) -> int:
    """UPDATE a stored vector in place — the versioned-identity revise
    (``streaming/revisions.py``) for the IVF add index: the new embedding
    is assigned under the FROZEN quantizer (fingerprint must match the
    stored layout — a re-trained quantizer is a rebuild, not a revise),
    written to a ``<index_dir>_rev`` sidecar under (id, rev), and a
    max-rev marker makes :func:`read_ivf_index` serve it while
    anti-joining the stale main-store row. Refuses tombstoned ids
    (erasure burns are permanent). Marker-last crash discipline with a
    residue purge on retry, so re-runs converge. Physical absorption via
    :func:`absorb_ivf_revisions` or at quantizer re-train/rebuild.
    Returns the new revision number. Owner op (single-writer window).

    Reference behavior matched: the loader's routine upsert overwrites
    the row and re-embeds (``src/loader/service.py:324-422, 702-806``) —
    here the re-embed happens upstream and the index absorbs the new
    vector incrementally."""
    meta = _add_meta(spark, index_dir, required=True)
    if meta.get("centers_fingerprint") != centers_fingerprint(centers):
        raise IVFIndexLayoutError(
            f"revise refused for {index_dir}: the caller's quantizer does "
            f"not match the stored centers_fingerprint — re-assigning one "
            f"vector under different centers would corrupt cell routing; "
            f"a quantizer change is a rebuild"
        )
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    idt = meta.get("id_type", "bigint")
    one = spark.createDataFrame(
        [(vec_id, [float(x) for x in new_vec])],
        f"{id_col} {idt}, {vec_col} array<double>",
    )
    rows = assign_to_centers(one, centers, id_col, vec_col)
    return revise(
        spark, index_dir, id_col, idt, vec_id, [(rows, sidecar_dir(index_dir))]
    )


@fenced("absorb")
def absorb_ivf_revisions(spark, index_dir: str) -> dict:
    """Physically fold pending vector revisions into the main
    cell-partitioned store: each revised id's stale row drops from its
    old cell, its latest-rev row lands in its new cell, and the
    ``(id, rev)`` markers + ``_rev`` sidecar empty, so
    :func:`read_ivf_index` returns to the zero-added-plan fast path
    without a quantizer rebuild. Probe-equivalent at every crash window,
    with the marker drop as the commit point (``revisions.absorb``). Like
    delete/revise, an owner op for a HEALTHY stream: replay any crashed
    add batch first — a pruned-guard replay checks the batch's own
    cells, and absorption may have moved a revised id out of them."""
    meta = _add_meta(spark, index_dir, required=True)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    root = index_dir.rstrip("/")

    def targets(revs: DataFrame) -> list:
        fresh = latest_rows(
            spark, sidecar_dir(index_dir), revs, id_col,
            _vector_schema(meta, "rev int"),
        ).select(id_col, vec_col, "cell_id")
        cells = partitions_holding(
            spark, index_dir, revs.select(id_col), id_col, "cell_id"
        ) | {r[0] for r in fresh.select("cell_id").distinct().collect()}
        return [
            (
                f"{root}/cell_id={c}",
                fresh.filter(F.col("cell_id") == c).select(id_col, vec_col),
            )
            for c in sorted(cells)
        ]

    n_vecs, cells = absorb(spark, index_dir, id_col, targets)
    return {"absorbed_vectors": n_vecs, "cells_rewritten": len(cells)}


def read_ivf_index(spark, index_dir: str, heal: str = "repair") -> DataFrame:
    """The incremental-add index as probes must see it: stored (id, vec,
    cell_id) rows minus tombstoned ids, with revised ids served at their
    LATEST revision (stale main rows anti-joined away). Feed this to
    :func:`ivf_topk` — a deleted vector is then unretrievable NOW, a
    revised one retrievable under its new embedding NOW, and the eventual
    rebuild (which drops rows physically and the sidecars with the old
    directory) returns identical results. A store with a meta but no cell
    data yet (an empty first add batch, or a crash between the meta and
    the data) reads as empty main rows, so its insert-via-revise vectors
    still serve; with neither, :class:`IVFIndexLayoutError`.
    ``heal="detect"`` is the read-only mode: a crashed tombstone-revoke
    swap or sidecar compaction raises instead of being repaired (repair
    renames — single-writer only)."""
    from ..streaming.tombstones import read_tombstones

    meta = _add_meta(spark, index_dir)
    df = read_or_empty(spark, index_dir, meta and _vector_schema(meta))
    if df is None:
        raise IVFIndexLayoutError(
            f"no cell data and no _meta.json under {index_dir}: not an IVF "
            f"index"
        )
    id_col = (meta or {}).get("id_col", "vec_id")
    df = apply_revisions(
        spark, index_dir, df, id_col, read_revisions(spark, index_dir, id_col),
        sidecar_dir(index_dir), df.columns,
        heal="detect" if heal == "detect" else "repair",
    )
    tomb = read_tombstones(spark, index_dir, cols=[id_col], heal=heal)
    if tomb is None:
        return df
    return df.join(tomb, id_col, "left_anti")
