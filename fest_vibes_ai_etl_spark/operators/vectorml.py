"""Vector-native ML-pipeline operators: k-means assignment, SemDeDup-style
semantic dedup, product quantization, and a distributed Gram/covariance
matrix — the embedding-side toolkit a 100 TB training-data pipeline needs
between "store vectors" (operators/similarity.py, operators/ivf.py) and
"train a model" (somewhere else entirely).

Scale stances, per operator:

- **centroid assignment** (``assign_nearest_centroid``): the codebook is
  tiny (k ≤ a few thousand) and the corpus is the big side, so the
  assignment is a pure per-row map over a LITERAL centroid array — argmax
  cosine computed with higher-order array functions inside codegen. Zero
  joins, zero shuffles, no Python. (Contrast operators/ivf.py's
  ``assign_to_centers``: the Arrow/numpy path — faster per element for
  k·dim in the tens of thousands, but leaves codegen. Both are per-row
  maps; pick by codebook size.) Fitting the codebook is the driver-side
  sampled k-means in ivf._fit_spherical_kmeans — at 100 TB you fit on a
  bounded sample and assign distributed, never the reverse.
- **SemDeDup** (Abbas et al. 2023, arXiv:2303.09540): near-duplicate
  pruning that only compares vectors WITHIN a cluster, turning the O(n²)
  all-pairs scan into Σ O(n_c²) with n_c ≈ n/k — the same
  bucket-then-verify shape as the MinHash band join, but with the buckets
  chosen semantically. The within-cluster pair join shuffles on the
  (small-cardinality) cluster id; survivors are decided by a monotone
  lowest-id-wins rule so the result is deterministic and
  oracle-expressible (no greedy iteration order to disagree about).
- **product quantization** (Jégou et al. 2011, IEEE TPAMI 33(1)): split
  the d-dim vector into m subspaces, code each against a per-subspace
  codebook; a 64-dim float32 vector (256 B) becomes m small codes
  (m bytes at k ≤ 256) — a 256× compression that is what actually lets a
  100 TB vector corpus fit an ANN serving tier. Encoding is again a
  literal-codebook per-row map: zero shuffle, codegen-side.
- **Gram / covariance** (``gram_matrix``): X'X computed as per-partition
  numpy partials (d×d each) that are then summed — the map-side-combine
  pattern applied to matrix accumulation. The shuffle moves
  O(partitions · d²) floats, never O(rows); at 100 TB with d = 64 that is
  a few MB total. The d×d result is driver-sized by construction; PCA's
  eigensolve on it is a driver-side O(d³) afterthought, not a Spark job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V


def seed_centroids(
    df: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """The k lowest-id vectors as a deterministic codebook (the fixture
    stand-in for a sampled k-means fit — same driver-sized artifact either
    way: k·dim floats, collected once, embedded as literals)."""
    rows = (
        df.select(id_col, vec_col)
        .filter(F.col(id_col) < k)
        .orderBy(id_col)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(
            f"seed_centroids: corpus has only {len(rows)} rows with "
            f"{id_col} < {k}; need {k} seed vectors"
        )
    return [[float(x) for x in r[vec_col]] for r in rows]


def _lit_codebook(centers: list[list[float]]) -> Column:
    """One literal array<array<double>> column. Materializing the codebook
    ONCE and indexing it with higher-order lambdas keeps the expression
    tree O(k·dim) total; inlining a copy per comparison branch (the naive
    expansion) makes it O(k²·dim) and costs seconds of driver-side
    analysis/codegen before a single row is read. Built as ONE parsed SQL
    string: constructing k·dim literals through the Python Column API is
    k·dim py4j round-trips (≈1 s per 500 literals of pure driver overhead);
    one expr() call is a single parse. ``repr(float)`` is the shortest
    round-trip form, so the parsed double is bit-identical."""
    inner = ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")" for c in centers
    )
    return F.expr(f"array({inner})")


def best_centroid(vec: Column, centers: list[list[float]], round_to: int = 6) -> Column:
    """struct(cos6, cluster_id) of the max-cosine centroid for ``vec``,
    ties broken toward the lowest centroid id. Pure column expression over
    a literal codebook: array_min over per-centroid (-cos6, id) structs —
    struct comparison is lexicographic, so the min is (max cosine, then
    lowest id). No join, no shuffle, no Python."""
    cb = _lit_codebook(centers)
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(len(centers) - 1)),
        lambda i: F.struct(
            (-F.round(V.cosine(vec, F.element_at(cb, i.cast("int") + 1)), round_to)).alias(
                "negc"
            ),
            i.cast("int").alias("cid"),
        ),
    )
    best = F.array_min(scored)
    return F.struct(
        (-best["negc"]).alias("cos"), best["cid"].alias("cluster_id")
    )


def assign_nearest_centroid(
    df: DataFrame,
    centers: list[list[float]],
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Adds (cluster_id int, cos double): spherical k-means assignment
    against a literal codebook. The one-Lloyd-step scoring primitive —
    iterate assign → groupBy(cluster_id).avg to refit (each refit is one
    map-side-combined shuffle of k·dim partials)."""
    b = best_centroid(F.col(vec_col), centers, round_to)
    return df.withColumn("_b", b).select(
        *df.columns,
        F.col("_b.cluster_id").cast("int").alias("cluster_id"),
        F.col("_b.cos").alias("cos"),
    )


def semantic_dedup(
    df: DataFrame,
    centers: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_to: int = 4,
) -> DataFrame:
    """SemDeDup: per-cluster near-duplicate pruning. Returns per-cluster
    (cluster_id, n_members, n_pruned, n_survivors) where a vector is pruned
    iff some LOWER-id member of the same cluster has cosine ≥ threshold
    with it (monotone rule — deterministic regardless of join/iteration
    order, unlike greedy sequential pruning). The pair join is cluster_id
    co-partitioned: all-pairs cost collapses from O(n²) to Σ O(n_c²)."""
    assigned = assign_nearest_centroid(df, centers, vec_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"), "cluster_id"
    )
    a = assigned.select(
        F.col("vid").alias("a_id"), F.col("v").alias("av"), "cluster_id"
    )
    b = assigned.select(
        F.col("vid").alias("b_id"), F.col("v").alias("bv"), "cluster_id"
    )
    pruned = (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.round(V.cosine(F.col("av"), F.col("bv")), round_to) >= threshold)
        .select("cluster_id", "b_id")
        .distinct()
    )
    members = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    losses = pruned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_pruned"))
    return (
        members.join(losses, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce("n_pruned", F.lit(0)).alias("n_pruned"),
            (F.col("n_members") - F.coalesce("n_pruned", F.lit(0))).alias(
                "n_survivors"
            ),
        )
    )


def subspace_codebooks(
    df: DataFrame,
    m: int,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """m per-subspace codebooks of k entries each, sliced from the k seed
    vectors (deterministic fixture fit — a real fit is per-subspace k-means
    on a driver-side sample, same artifact shape)."""
    assert dim % m == 0
    dsub = dim // m
    seeds = seed_centroids(df, k, id_col, vec_col)
    return [[c[s * dsub : (s + 1) * dsub] for c in seeds] for s in range(m)]


def _pq_bests(
    vec: Column,
    codebooks: list[list[list[float]]],
    round_to: int = 6,
) -> Column:
    """array<struct<d,cid>> — per subspace, the (rounded Euclidean
    distance, codeword id) of the nearest codeword, lowest id on ties.
    The nested codebook is ONE literal (see _lit_codebook); both loops are
    higher-order lambdas, so the tree stays O(m·k·dsub) nodes."""
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    cb = F.array(*[_lit_codebook(book) for book in codebooks])

    def sub_dist(sub: Column, cw: Column) -> Column:
        sq = F.zip_with(
            sub, cw, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        )
        return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))

    def per_sub(s: Column) -> Column:
        sub = F.slice(vec, s.cast("int") * dsub + 1, dsub)
        book = F.element_at(cb, s.cast("int") + 1)
        scored = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.struct(
                F.round(sub_dist(sub, F.element_at(book, j.cast("int") + 1)), round_to).alias("d"),
                j.cast("int").alias("cid"),
            ),
        )
        return F.array_min(scored)

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), per_sub)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Adds (code string "c0-c1-…-cm", recon_dist double): per-subspace
    nearest-codeword (Euclidean, rounded argmin, lowest-id tie-break) and
    the summed sub-distances (the PQ reconstruction error). Literal
    codebooks ⇒ pure map, zero shuffle."""
    bests = _pq_bests(F.col(vec_col), codebooks, round_to)
    code = F.array_join(
        F.transform(bests, lambda b: b["cid"].cast("string")), "-"
    )
    recon = F.aggregate(
        F.transform(bests, lambda b: b["d"]),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return df.select(*df.columns, code.alias("code"), recon.alias("recon_dist"))


def pq_reconstruct(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Adds (recon array<double>): the PQ-decompressed vector — each
    subspace replaced by its nearest codeword (same rounded argmin as
    ``pq_encode``). dist(query, recon) is exactly the asymmetric-distance
    (ADC) score of Jégou et al. 2011 §III — the compressed-domain scan: at
    serving time the corpus side is m codes, not d floats, and the scan
    reads the 4-byte codes while only the (few) queries stay full-width.
    Still a pure literal-codebook map: zero shuffle, zero Python."""
    m = len(codebooks)
    cb = F.array(*[_lit_codebook(book) for book in codebooks])
    bests = _pq_bests(F.col(vec_col), codebooks, round_to)
    recon = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(
                F.element_at(cb, s.cast("int") + 1),
                F.element_at(bests, s.cast("int") + 1)["cid"] + 1,
            ),
        )
    )
    return df.select(*df.columns, recon.alias("recon"))


def pq_codes_column(
    vec: Column, codebooks: list[list[list[float]]], round_to: int = 6
) -> Column:
    """array<int> — the m per-subspace codeword ids (the stored PQ codes)."""
    return F.transform(_pq_bests(vec, codebooks, round_to), lambda b: b["cid"])


def recon_from_codes(codes: Column, codebooks: list[list[list[float]]]) -> Column:
    """array<double> — decompress stored PQ codes back to the codeword
    concatenation (the ADC corpus side). A per-row literal-codebook lookup:
    the scan reads m small ints per vector, never the original floats."""
    m = len(codebooks)
    cb = F.array(*[_lit_codebook(book) for book in codebooks])
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(
                F.element_at(cb, s.cast("int") + 1),
                F.element_at(codes, s.cast("int") + 1) + 1,
            ),
        )
    )


_PQ_WAREHOUSE: str | None = None


def _pq_warehouse_root() -> str:
    global _PQ_WAREHOUSE
    if _PQ_WAREHOUSE is None:
        import os

        repo = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        _PQ_WAREHOUSE = os.path.join(repo, "spark-warehouse", "pq_codes")
    return _PQ_WAREHOUSE


def pq_store_path(sf_dir: str, m: int, k: int) -> str:
    """Keyed by (sf basename, params, source fingerprint) — the
    operators/ivf.py convention: a regenerated dataset keys a fresh build,
    never a stale read. The fingerprint covers the full parquet file
    listing and raises on an unstattable source (no silent shared key)."""
    import os

    from ..fingerprint import source_fingerprint

    tag = os.path.basename(sf_dir.rstrip("/")) or "root"
    stamp = "_" + source_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
    return os.path.join(_pq_warehouse_root(), f"{tag}_m{m}_k{k}{stamp}")


def load_or_build_pq_codes(
    spark,
    corpus: DataFrame,
    sf_dir: str,
    m: int = 4,
    k: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_files: int = 1,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Build/probe split for the compressed corpus (the IVF-index pattern):
    the one-off encode pass persists (id, codes array<int>) — m small ints
    per vector, the 64× smaller serving artifact — plus codebooks.json;
    every later call is a metadata load and the probe path reads CODES
    ONLY. At 100 TB this is the point of PQ: the ANN tier scans the 1.6 TB
    code table, not the 100 TB float corpus."""
    import json
    import os

    path = pq_store_path(sf_dir, m, k)
    books_file = os.path.join(path, "codebooks.json")
    codes_dir = os.path.join(path, "codes")
    if os.path.exists(books_file) and os.path.exists(
        os.path.join(codes_dir, "_SUCCESS")
    ):
        with open(books_file) as fh:
            books = json.load(fh)
        return spark.read.parquet(codes_dir), books

    books = subspace_codebooks(corpus, m, k, dim, id_col, vec_col)
    codes = corpus.select(
        F.col(id_col), pq_codes_column(F.col(vec_col), books).alias("codes")
    )
    # n_files sizes the code table's layout: the fixture corpus fits one
    # tidy file; a 100 TB corpus (~1.6 TB of codes at m=4) should pass
    # n_files ≈ code_bytes / 512 MB so probe scans stream well-sized files.
    codes.repartition(n_files).write.mode("overwrite").parquet(codes_dir)
    os.makedirs(path, exist_ok=True)
    tmp = books_file + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(books, fh)
    os.replace(tmp, books_file)
    return spark.read.parquet(codes_dir), books


def l2_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def l2_distance_n(a: str, b: str) -> Column:
    """Name-based twin of :func:`l2_distance` built via ONE ``F.expr``
    parse — the lambda form costs ~70 ms of driver plan-construction per
    call (the py4j round-trips of the lambda plumbing; see
    functions/vector.py round-14 note). Identical expression tree, same
    casts and operator order, bit-identical results."""
    return F.expr(
        f"sqrt(aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, "
        f"(acc, v) -> acc + v))"
    )


def _sql_double(x: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-tripping
    decimal form, so parsing it back yields the identical double."""
    return repr(float(x)) + "D"


def recon_from_codes_n(codes: str, codebooks: list[list[list[float]]]) -> Column:
    """Name-based twin of :func:`recon_from_codes` assembled as ONE SQL
    string: the lambda/literal form issues ~m·k·dsub py4j calls (one per
    codeword element — measured ~1 s of driver time per plan build at
    16×16×16); the parsed expression tree and therefore codegen and
    results are identical."""
    m = len(codebooks)
    cb = (
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(_sql_double(x) for x in word) + ")"
                for word in book
            )
            + ")"
            for book in codebooks
        )
        + ")"
    )
    return F.expr(
        f"flatten(transform(sequence(0, {m - 1}), s -> "
        f"element_at(element_at({cb}, CAST(s AS INT) + 1), "
        f"element_at({codes}, CAST(s AS INT) + 1) + 1)))"
    )


def gram_matrix(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """(i, j, s, n, sum_i, sum_j) for 0 ≤ i, j < dim where s = Σ x_i·x_j over
    all rows — the Gram matrix as a DataFrame, computed via per-partition
    numpy partials (one d×d float64 block per Arrow batch) summed with an
    ordinary groupBy. The shuffle carries O(batches·d²) scalars, never a
    per-row expansion; covariance/PCA derive from (s, n, sums) exactly."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    partial_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s_flat", ArrayType(DoubleType())),
            StructField("colsum", ArrayType(DoubleType())),
        ]
    )

    def partials(batches):
        for pdf in batches:
            vs = pdf[vec_col].dropna()  # null vectors carry no mass; an
            # all-null Arrow batch must not reach np.vstack (raises on empty)
            if len(vs) == 0:
                continue
            X = np.vstack(vs.to_numpy()).astype("float64")
            yield pd.DataFrame(
                {
                    "n": [X.shape[0]],
                    "s_flat": [(X.T @ X).ravel().tolist()],
                    "colsum": [X.sum(axis=0).tolist()],
                }
            )

    part = df.select(vec_col).mapInPandas(partials, schema=partial_schema)
    cells = part.select(
        "n",
        "colsum",
        F.posexplode("s_flat").alias("idx", "v"),
    )
    # groupBy idx sums partials; n/colsum ride along via first() of the
    # per-partial constants aggregated separately to avoid double counting.
    # Float folds run over SORTED partials (sort_array before aggregate) so
    # the summation order — and therefore the last-ulp of the result — does
    # not depend on which partition's partial arrives first (collect_list
    # order is nondeterministic). Residual exposure: the partials themselves
    # shift if the PARTITION BOUNDARIES change (different maxPartitionBytes /
    # batch size), which can still move a value within an ulp; the catalog
    # queries built on this round to 6 decimals, leaving ≥2 float64 digits
    # of margin above that boundary.
    sums = cells.groupBy("idx").agg(
        F.aggregate(
            F.sort_array(F.collect_list("v")), F.lit(0.0), lambda acc, v: acc + v
        ).alias("s")
    )
    totals = part.agg(
        F.sum("n").alias("n"),
        F.aggregate(
            F.sort_array(F.collect_list("colsum")),
            F.array(*[F.lit(0.0)] * dim),
            lambda acc, c: F.zip_with(acc, c, lambda x, y: x + y),
        ).alias("colsum"),
    )
    return (
        sums.crossJoin(F.broadcast(totals))
        .select(
            (F.col("idx") / dim).cast("int").alias("i"),
            (F.col("idx") % dim).cast("int").alias("j"),
            "s",
            "n",
            F.element_at("colsum", (F.col("idx") / dim).cast("int") + 1).alias(
                "sum_i"
            ),
            F.element_at("colsum", (F.col("idx") % dim).cast("int") + 1).alias(
                "sum_j"
            ),
        )
    )


def covariance_pairs(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """(i, j, cov) for i < j: sample covariance between embedding dimensions,
    derived from the Gram matrix — cov = (S_ij − n·μ_i·μ_j)/(n−1)."""
    g = gram_matrix(df, vec_col, dim)
    return g.filter(F.col("i") < F.col("j")).select(
        "i",
        "j",
        (
            (F.col("s") - F.col("sum_i") * F.col("sum_j") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("cov"),
    )
