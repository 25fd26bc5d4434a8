"""Incremental exact dedup against everything ever ingested.

The dedup family with no similarity sidecar: a document is dropped only
when its text is byte-identical (md5 ``fp``, see
:func:`dedup_stream.fingerprint`) to a stored row or to a batch-mate.
The stream dedups purely by fingerprint — the corpus accumulates the
original columns plus ``fp``, and its ``<corpus>_exactidx`` sidecar
holds fp-only ``(fp, fpk = xxhash64(fp))`` rows banded on ``fpk`` (no id
column). The batch lifecycle — replay guard, crash heal, tombstones,
maintenance — is :class:`dedup_stream.DedupStream`.
"""

from __future__ import annotations

from .dedup_stream import DedupFamily, DedupStream, fingerprint


def make_exact_dedup_processor(
    corpus_dir: str,
    text_col: str = "text",
    n_bands: int | None = None,
    maintain_every: int | None = 16,
    maintain_max_files: int = 8,
    fs_options: dict | None = None,
):
    """The ``foreachBatch`` processor appending only never-seen-before
    rows (exact text match) to ``corpus_dir``; run it as a stream with
    ``state_store.start_stream``, or drive micro-batches directly (plain
    DataFrames + batch ids). ``n_bands`` and ``fs_options`` are the
    sidecar's, see :class:`dedup_stream.DedupStream`."""
    family = DedupFamily(signatures=lambda df: df.withColumn("fp", fingerprint(text_col)))
    return DedupStream(
        corpus_dir, family, n_bands=n_bands, maintain_every=maintain_every,
        maintain_max_files=maintain_max_files, fs_options=fs_options,
    )
