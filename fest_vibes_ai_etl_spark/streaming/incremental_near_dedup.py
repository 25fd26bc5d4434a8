"""Incremental NEAR-dup dedup against everything ever ingested.

The training-corpus upgrade of ``incremental_dedup``: new documents are
dropped not only when byte-identical to history but when their n-gram
Jaccard similarity to ANY stored document reaches the threshold — the
cross-batch version of ``dedup.minhash_lsh_exact_pairs`` (sketch selects,
true metric decides).

Signature: each stored row carries its MinHash signature (``sig``,
num_hashes longs) and its shingle-set signature (``sh`` sorted hashes +
``n``), so probing history is:

  batch bands  ⋈  history bands → candidate (batch_id, hist_id) pairs
      → exact Jaccard from the two shingle arrays
      → drop batch docs with J ≥ threshold

A replayed batch finds its own rows in history at J = 1 and appends
nothing.

Sidecar: ``<corpus>_bandidx`` holds the pre-computed (id, band,
band_hash) LSH rows banded on ``band_hash``. A batch can only collide on
band hashes the batch itself carries, so candidate generation reads ONLY
those bands — no per-batch re-derivation of every stored signature. The
exact-Jaccard verify then reads (id, sh, n) from the corpus semi-joined
by the candidate ids — and is launched only when the candidate join is
non-empty (an explicit gate: AQE, whose empty-relation propagation would
otherwise skip the scan, is disabled inside micro-batch plans).
``tools/probe_scaling.py`` records the probe's walls at growing
accumulated history.

Victim rule: J ≥ ``threshold`` against a stored doc drops the batch doc;
within a batch the lowest id of each near-dup pair wins. The batch
lifecycle — exact guard, crash heal, tombstones, maintenance — is
:class:`dedup_stream.DedupStream`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup_stream import DedupFamily, DedupStream, fingerprint


def near_index_path(corpus_dir: str) -> str:
    return corpus_dir.rstrip("/") + "_bandidx"


def _with_signatures(df: DataFrame, id_col: str, text_col: str,
                     k: int, num_hashes: int) -> DataFrame:
    """Attach (fp, sig, sh, n) to every row. Docs too short to shingle
    (< k tokens) carry empty sig/sh and fall back to exact-only dedup."""
    from ..operators.dedup import minhash_signatures, shingle_signature

    base = df.withColumn("fp", fingerprint(text_col))
    sigs = minhash_signatures(df, id_col, text_col, k, num_hashes).withColumnRenamed(
        "id", id_col
    )
    sh = shingle_signature(df, id_col, text_col, k).withColumnRenamed("id", id_col)
    return (
        base.join(sigs, id_col, "left")
        .join(sh, id_col, "left")
        .withColumn("sig", F.coalesce("sig", F.array().cast("array<bigint>")))
        .withColumn("sh", F.coalesce("sh", F.array().cast("array<bigint>")))
        .withColumn("n", F.coalesce("n", F.lit(0)))
    )


def _band_hashes(sig_df: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    rows = num_hashes // bands
    return sig_df.filter(F.size("sig") > 0).select(
        F.col(id_col).alias("bid"),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.slice("sig", i * rows + 1, rows).cast("string"))
                    for i in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def _verified_victims(
    cand: DataFrame,
    probe: DataFrame,
    target_sh: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Probe ids among the candidate pairs whose EXACT Jaccard reaches the
    threshold (sketch selects, true metric decides)."""
    ps = probe.select(
        F.col(id_col).alias("p_id"), F.col("sh").alias("sh_p"), F.col("n").alias("n_p")
    )
    ts = target_sh.select(
        F.col(id_col).alias("t_id"), F.col("sh").alias("sh_t"), F.col("n").alias("n_t")
    )
    inter = F.size(F.array_intersect("sh_p", "sh_t"))
    return (
        cand.join(ps, "p_id")
        .join(ts, "t_id")
        .withColumn("i", inter)
        .filter(F.col("i") / (F.col("n_p") + F.col("n_t") - F.col("i")) >= threshold)
        .select(F.col("p_id").alias(id_col))
        .distinct()
    )


def _near_victims(id_col: str, threshold: float, metrics: dict | None):
    """The family's ``victims`` hook: band-collision candidates between
    ``live`` and ``target`` rows, verified by exact Jaccard against
    ``fresh`` (within the batch, lowest id wins) or ``history``."""

    def victims(live, target, fresh, history):
        cand = live.select(F.col("id").alias("p_id"), "band", "band_hash").join(
            target.select(F.col("id").alias("t_id"), "band", "band_hash"),
            ["band", "band_hash"],
        )
        if history is None:
            cand = cand.filter(F.col("t_id") < F.col("p_id"))
        cand = cand.select("p_id", "t_id").dropDuplicates(["p_id", "t_id"])
        if history is None:
            return _verified_victims(cand, fresh, fresh, id_col, threshold)
        # emptiness-gated verify: the exact-Jaccard verify reads the
        # corpus (id, sh, n) columns — a full thin-column scan — so it's
        # only launched when some band actually collided. The gate
        # re-evaluates the (cheap, pruned) candidate join rather than
        # persisting it: persist() of a frame derived from the
        # foreachBatch input measurably CORRUPTED later batches' dedup
        # here (cache-substitution inside the micro-batch plan), so no
        # caching across this seam.
        if metrics is None:
            if cand.isEmpty():
                return None
        else:
            # count() doubles as the emptiness gate when the caller wants
            # the trigger telemetry — same pruned batch-sized frame, one
            # job either way
            n_cand = cand.count()
            if n_cand == 0:
                return None
            metrics["verify_cand_pairs"] = metrics.get("verify_cand_pairs", 0) + n_cand
            metrics["verify_launched"] = metrics.get("verify_launched", 0) + 1
        return _verified_victims(cand, fresh, history, id_col, threshold)

    return victims


def make_near_dedup_processor(
    corpus_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.2,
    n_buckets: int | None = None,
    maintain_every: int | None = 16,
    maintain_max_files: int = 8,
    metrics: dict | None = None,
    fs_options: dict | None = None,
):
    """The ``foreachBatch`` processor appending to ``corpus_dir`` only
    rows that are neither exact nor near (Jaccard ≥ threshold)
    duplicates of any stored row, carrying (fp, sig, sh, n) alongside the
    data; run it as a stream with ``state_store.start_stream``, or drive
    micro-batches directly. A change of ``k``/``num_hashes``/``bands``
    rebuilds the sidecar from the corpus. ``n_buckets`` (the sidecars'
    band count) and ``fs_options`` are as in
    :class:`dedup_stream.DedupStream`.

    ``metrics`` (optional, a plain dict the caller keeps) accumulates
    per-batch observability counters: ``batches`` processed,
    ``verify_launched`` (how many batches' emptiness gate actually opened
    the exact-Jaccard verify — the stream's one candidate-gated linear
    term, see SCALE.md), and ``verify_cand_pairs`` (total candidate pairs
    those verifies scored). The counts are driver-side ints; recording
    them adds one ``count()`` over the (pruned, batch-sized) candidate
    frame only on batches where the gate opened — batches that would pay
    a full verify anyway."""
    family = DedupFamily(
        signatures=lambda df: _with_signatures(df, id_col, text_col, k, num_hashes),
        id_col=id_col,
        sidecar=(
            near_index_path(corpus_dir),
            "band_hash",
            f"minhash:k={k},nh={num_hashes},bands={bands}",
        ),
        sidecar_rows=lambda df: _band_hashes(df, id_col, num_hashes, bands).select(
            F.col("bid").alias("id"), "band", "band_hash"
        ),
        victims=_near_victims(id_col, threshold, metrics),
    )
    stream = DedupStream(
        corpus_dir, family, n_bands=n_buckets, maintain_every=maintain_every,
        maintain_max_files=maintain_max_files, fs_options=fs_options,
    )
    if metrics is None:
        return stream

    def process(batch_df: DataFrame, batch_id: int) -> None:
        stream(batch_df, batch_id)
        metrics["batches"] = metrics.get("batches", 0) + 1

    return process
