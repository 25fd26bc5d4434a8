"""Incremental SUBSTRING-level dedup against everything ever ingested.

The winnowing upgrade of ``incremental_near_dedup``: new documents are
dropped not only when byte-identical to history but when they share a
duplicated PASSAGE (≥ ``min_shared`` winnowed fingerprints ⇒ a common
substring of roughly ≥ w + k − 1 characters) with ANY stored document —
the cross-batch version of ``dedup.duplicate_span_pairs``, i.e. the
streaming form of Lee-et-al-2022-style substring dedup.

Signature: each stored row carries its exact fingerprint (``fp``, md5)
and its winnowed fingerprint set (``wfps`` array<long>, expected density
2/(w+1) of the gram count). A replayed batch finds its own rows
byte-identical in history (fp anti-join) and appends nothing —
convergence does NOT depend on the span rule, so even fingerprint-poor
short docs can't duplicate on replay.

Sidecar: ``<corpus>_fpidx`` holds the pre-exploded (id, fp) winnow pairs
banded on ``fp``. A batch can only share a fingerprint that the batch
itself carries, so the span probe reads ONLY the band directories of the
batch's own fingerprints, and the per-batch explode of the whole corpus
is gone (the index is exploded once, at append time).
``tools/probe_scaling.py`` records the probe's walls at growing
accumulated history.

Victim rule: a doc sharing ≥ ``min_shared`` fingerprints with a stored
doc is dropped; within a batch the lowest id of each pair wins. The
batch lifecycle — exact guard, crash heal, tombstones, maintenance — is
:class:`dedup_stream.DedupStream`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import winnow_fingerprints
from .dedup_stream import DedupFamily, DedupStream, fingerprint

__all__ = ["span_index_path", "make_span_dedup_processor"]


def span_index_path(corpus_dir: str) -> str:
    return corpus_dir.rstrip("/") + "_fpidx"


def _span_victims(
    batch_fps: DataFrame,
    other_fps: DataFrame,
    id_col: str,
    min_shared: int,
    self_pairs_ordered: bool,
) -> DataFrame:
    """Batch ids sharing ≥ min_shared fingerprints with the other side.
    ``self_pairs_ordered=True`` restricts to a.id > b.id (within-batch:
    lowest id of each pair wins, matching the near-dup family's rule)."""
    a = batch_fps.select(F.col("id").alias("a_id"), "fp")
    b = other_fps.select(F.col("id").alias("b_id"), "fp")
    cond = F.col("a_id") > F.col("b_id") if self_pairs_ordered else F.lit(True)
    return (
        a.join(b, "fp")
        .filter(cond)
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("a_id").alias(id_col))
        .distinct()
    )


def make_span_dedup_processor(
    corpus_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 15,
    min_shared: int = 3,
    n_bands: int | None = None,
    max_doc_chars: int | None = None,
    maintain_every: int | None = 16,
    maintain_max_files: int = 8,
    fs_options: dict | None = None,
):
    """The ``foreachBatch`` processor appending to ``corpus_dir`` only
    rows that are neither exact duplicates nor duplicated-passage
    carriers of any stored row, carrying (fp, wfps) alongside the data;
    run it as a stream with ``state_store.start_stream``, or drive
    micro-batches directly. A change of ``k``/``w`` rebuilds the sidecar
    from the corpus. ``max_doc_chars`` is the long-doc skew guard passed
    through to ``winnow_fingerprints`` (fingerprint-set invariant, so
    corpora built with and without it are interchangeable). ``n_bands``
    and ``fs_options`` are the sidecars', see
    :class:`dedup_stream.DedupStream`."""

    def signatures(docs: DataFrame) -> DataFrame:
        docs = docs.withColumn("fp", fingerprint(text_col))
        wfps = (
            winnow_fingerprints(docs, id_col, text_col, k=k, w=w, max_doc_chars=max_doc_chars)
            .groupBy("id")
            .agg(F.array_sort(F.collect_list("fp")).alias("wfps"))
        )
        return docs.join(wfps.withColumnRenamed("id", id_col), id_col, "left").withColumn(
            "wfps", F.coalesce(F.col("wfps"), F.array().cast("array<long>"))
        )

    family = DedupFamily(
        signatures=signatures,
        id_col=id_col,
        sidecar=(span_index_path(corpus_dir), "fp", f"winnow:k={k},w={w}"),
        sidecar_rows=lambda df: df.select(
            F.col(id_col).alias("id"), F.explode("wfps").alias("fp")
        ),
        victims=lambda live, target, fresh, history: _span_victims(
            live, target, id_col, min_shared, self_pairs_ordered=history is None
        ),
    )
    return DedupStream(
        corpus_dir, family, n_bands=n_bands, maintain_every=maintain_every,
        maintain_max_files=maintain_max_files, fs_options=fs_options,
    )
