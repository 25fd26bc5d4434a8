#!/usr/bin/env python
"""Incremental-dedup history-probe scaling of the banded sidecar index.

The round-6 verdict's one scale exposure: the incremental span/near dedup
streams re-derived their probe side from the ENTIRE stored corpus on every
micro-batch — linear per batch, quadratic over a backfill. Round 7 added the
band-partitioned sidecar (``streaming/banded_index.py``) they probe instead.
This tool prebuilds accumulated history at 1×/4×/16× (replica-scaled documents
with disjoint ids and per-replica token salting, the ``scaling_curve.py``
convention) plus its sidecars, then times ONE fixed-size micro-batch
through the real ``foreachBatch`` path and fits b in  wall = a·history^b.

What to expect (and why, so the numbers aren't read naively):

- near-dedup probes are FP-SPARSE (``bands``=8 hashes per doc), so a small
  batch touches a tiny fraction of a well-sized bucket set → strongly
  sublinear walls.
- span-dedup probes are FP-DENSE (~2/(w+1) fingerprints per gram, ~10² per
  doc), so directory pruning rates ``touched/n_bands``; the structural win
  that holds even when every band is touched is that the per-batch explode
  of every stored row's array is GONE (the index is pre-exploded once, at
  append time) and the join is bucket-co-located. Slope drops accordingly;
  a true bulk backfill should use the batch-mode operators, not a
  micro-batch stream, regardless of index.

Usage: python tools/probe_scaling.py [--base /root/testdata/sf0.1]
         [--scales 1,4,16] [--batch-docs 12] [--n-bands 2048]
         [--family span|near|both] [--out /tmp/festvibes_probe_scale]
Writes one JSON line + a markdown table to stdout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def build_history_docs(base: str, out_dir: str, r: int) -> str:
    """r× replicated documents with disjoint ids and salted tokens (no
    cross-replica shared shingles), cached under out_dir/docs_x{r}."""
    import duckdb

    dst = os.path.join(out_dir, f"docs_x{r}")
    if os.path.exists(os.path.join(dst, "_BUILT")):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst, exist_ok=True)
    reps = ", ".join(str(i) for i in range(r))
    duckdb.connect().execute(
        f"""
        COPY (
          SELECT d.doc_id + rep.i * CAST(10000000 AS BIGINT) AS doc_id,
                 CASE WHEN rep.i = 0 THEN d.text
                      ELSE regexp_replace(d.text, '(\\S+)', '\\1' || rep.i, 'g')
                 END AS text
          FROM '{base}/documents.parquet' d, (SELECT unnest([{reps}]) AS i) rep
        ) TO '{dst}/documents.parquet' (FORMAT parquet)
        """
    )
    Path(dst, "_BUILT").touch()
    return dst


def make_processor(fam: str, corpus_dir: str, n_bands: int | None = None,
                   metrics: dict | None = None):
    """The family's stream processor at the parameters this tool measures."""
    from fest_vibes_ai_etl_spark.streaming.incremental_near_dedup import (
        make_near_dedup_processor,
    )
    from fest_vibes_ai_etl_spark.streaming.incremental_span_dedup import (
        make_span_dedup_processor,
    )

    if fam == "span":
        return make_span_dedup_processor(
            corpus_dir, k=20, w=15, min_shared=3, n_bands=n_bands
        )
    return make_near_dedup_processor(
        corpus_dir, k=3, num_hashes=32, bands=8, threshold=0.2,
        n_buckets=n_bands, metrics=metrics,
    )


def prebuild_corpus(spark, fam: str, docs_dir: str, corpus_dir: str) -> None:
    """History in the stream's storage shape: the documents plus fp and
    the family's signature columns."""
    docs = spark.read.parquet(os.path.join(docs_dir, "documents.parquet"))
    make_processor(fam, corpus_dir).family.signatures(docs).write.mode(
        "overwrite"
    ).parquet(corpus_dir)


def prebuild_sidecars(spark, proc) -> None:
    """Build the processor's missing (or layout-stale) sidecars from its
    corpus once, so a timed batch measures the steady-state probe, not
    the one-time migration."""
    from fest_vibes_ai_etl_spark.streaming.dedup_stream import _settle_indexes

    hist = spark.read.parquet(proc.corpus_dir)
    _settle_indexes(spark, proc.sidecar_builders(hist), [])


def write_batch_source(spark, base: str, src_dir: str, n_docs: int,
                       salt: str = "zq", id_off: int = 900_000_000) -> None:
    """Fixed probe batch: novel docs (salted differently from every replica)."""
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(os.path.join(base, "documents.parquet"))
        .orderBy("doc_id")
        .limit(n_docs)
        .select(
            (F.col("doc_id") + id_off).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", "$1" + salt).alias("text"),
        )
    )
    docs.coalesce(1).write.mode("overwrite").parquet(src_dir)


def write_neardup_source(spark, base: str, src_dir: str, n_docs: int) -> None:
    """A batch of TRUE near-dups of replica-0 history: original texts with
    a couple of appended tokens (token-3-gram Jaccard ≈ 0.9 on typical doc
    lengths — far over the stream's threshold), under fresh ids."""
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(os.path.join(base, "documents.parquet"))
        .orderBy("doc_id")
        .limit(n_docs)
        .select(
            (F.col("doc_id") + 950_000_000).alias("doc_id"),
            F.concat("text", F.lit(" encore finale")).alias("text"),
        )
    )
    docs.coalesce(1).write.mode("overwrite").parquet(src_dir)


def verify_column_bytes(corpus_dir: str) -> int:
    """Compressed parquet bytes of the (doc_id, sh, n) columns — exactly
    what one launched exact-Jaccard verify scans from the corpus (it
    reads those three columns of every stored row; candidate ids only
    prune AFTER the scan feeds the join)."""
    import duckdb

    rows = duckdb.connect().execute(
        f"""
        SELECT path_in_schema, SUM(total_compressed_size)
        FROM parquet_metadata('{corpus_dir}/*.parquet')
        GROUP BY 1
        """
    ).fetchall()
    return int(
        sum(
            b
            for col, b in rows
            if col == "doc_id" or col == "n" or col.startswith("sh.")
        )
    )


def measure_verify_gate(spark, base: str, out: str, work_corpus: str,
                        batch_docs: int, n_bands: int) -> dict:
    """Round-9 measurement (r8 verdict #5): how often does the near
    stream's emptiness gate actually LAUNCH the candidate-gated
    exact-Jaccard verify — the family's one acknowledged linear term —
    and what does a launch cost? Runs two more micro-batches through the
    real processor against the timed run's surviving work corpus: one
    all-novel (steady ingest, the common case) and one carrying true
    near-dups of history (the case the verify exists for)."""
    src_novel2 = os.path.join(out, "batch_src_novel2")
    src_dup = os.path.join(out, "batch_src_dup")
    write_batch_source(spark, base, src_novel2, batch_docs,
                       salt="vg", id_off=920_000_000)
    write_neardup_source(spark, base, src_dup, batch_docs)
    metrics: dict = {}
    proc = make_processor("near", work_corpus, n_bands, metrics=metrics)
    proc(spark.read.parquet(src_novel2), 0)
    novel_launched = metrics.get("verify_launched", 0)
    proc(spark.read.parquet(src_dup), 1)
    return {
        "hist_rows": spark.read.parquet(work_corpus).count(),
        "novel_batch_verify_launched": novel_launched,
        "dup_batch_verify_launched": metrics.get("verify_launched", 0)
        - novel_launched,
        "verify_cand_pairs": metrics.get("verify_cand_pairs", 0),
        "verify_scan_bytes_per_launch": verify_column_bytes(work_corpus),
    }


def run_one_batch(spark, family: str, src: str, corpus: str, ckpt: str,
                  n_bands: int) -> float:
    from fest_vibes_ai_etl_spark.streaming.state_store import start_stream

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    t0 = time.perf_counter()
    q = start_stream(make_processor(family, corpus, n_bands), stream, ckpt)
    q.awaitTermination(600)
    return time.perf_counter() - t0


def fit_b(scales, walls) -> float:
    if len(set(scales)) < 2:
        return float("nan")  # a slope needs two distinct scale points
    xs = [math.log(s) for s in scales]
    ys = [math.log(max(w, 1e-9)) for w in walls]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scales", default="1,4,16")
    ap.add_argument("--batch-docs", type=int, default=12)
    ap.add_argument("--n-bands", type=int, default=2048)
    ap.add_argument("--family", default="both", choices=["span", "near", "both"])
    ap.add_argument("--out", default="/tmp/festvibes_probe_scale")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    families = ["span", "near"] if args.family == "both" else [args.family]

    from fest_vibes_ai_etl_spark.session import get_spark
    from fest_vibes_ai_etl_spark.streaming.dedup_stream import _fpk, fingerprint

    spark = get_spark()
    os.makedirs(args.out, exist_ok=True)
    src = os.path.join(args.out, "batch_src")
    write_batch_source(spark, args.base, src, args.batch_docs)

    results: dict[str, dict] = {}
    for fam in families:
        walls: list[float] = []
        guard_reads: list[dict] = []
        warmed = False
        for r in scales:
            docs_dir = build_history_docs(args.base, args.out, r)
            proto = os.path.join(args.out, f"{fam}_hist_x{r}")
            if not os.path.exists(os.path.join(proto, "_SUCCESS")):
                log(f"[{fam}] building x{r} history corpus ...")
                prebuild_corpus(spark, fam, docs_dir, proto)
            # prebuild the sidecars once per scale (a cached one whose
            # layout meta is missing or stale is rebuilt here, once)
            proc = make_processor(fam, proto, args.n_bands)
            prebuild_sidecars(spark, proc)
            # exact-guard read volume: rows the bucket-local replay guard
            # actually reads for THIS batch (touched fpk bands only) vs
            # the full history the pre-round-8 guard re-scanned per batch.
            # rows_read ≈ touched_bands × hist/n_bands: the linear term
            # keeps a 1/n_bands constant, and n_bands is sized to the
            # corpus at (re)build time — this is the number that must stay
            # small while hist_rows grows 512×.
            eidx = proc.exact_index
            ebands = eidx.touched_bands(
                spark.read.parquet(src)
                .select(fingerprint("text").alias("fp"))
                .select(_fpk())
            )
            erows = eidx.read_bands(spark, ebands)
            guard_reads.append(
                {
                    "scale": r,
                    "hist_rows": spark.read.parquet(proto).count(),
                    "exact_rows_read": 0 if erows is None else erows.count(),
                }
            )
            log(f"[{fam}] x{r} exact-guard rows read: {guard_reads[-1]}")
            # the batch APPENDS; run it against a throwaway copy
            reps = 2 if not warmed else 1  # first timing discards a
            for rep in range(reps):        # JVM/stream warmup pass
                work = os.path.join(args.out, "work")
                shutil.rmtree(work, ignore_errors=True)
                corpus = os.path.join(work, "corpus")
                for d in [proto] + [i.path for i in proc.sidecars]:
                    shutil.copytree(d, corpus + d[len(proto):])
                wall = run_one_batch(
                    spark, fam, src, corpus, os.path.join(work, "ckpt"),
                    args.n_bands,
                )
                if reps == 2 and rep == 0:
                    log(f"[{fam}] x{r} (warmup, discarded): {wall:.2f}s")
                    continue
                walls.append(wall)
                log(f"[{fam}] x{r}: {wall:.2f}s")
            warmed = True
        results[fam] = {
            "scales": scales,
            "walls": [round(w, 3) for w in walls],
            "b": round(fit_b(scales, walls), 3),
            "exact_guard": guard_reads,
        }
        if fam == "near":
            # verify-trigger telemetry at the LARGEST accumulated history,
            # against the timed loop's surviving work corpus
            log("[near] measuring verify-gate trigger rate ...")
            results[fam]["verify_gate"] = measure_verify_gate(
                spark, args.base, args.out,
                os.path.join(args.out, "work", "corpus"),
                args.batch_docs, args.n_bands,
            )
            log(f"[near] verify gate: {results[fam]['verify_gate']}")

    print(json.dumps({"probe_scaling": results,
                      "batch_docs": args.batch_docs,
                      "n_bands": args.n_bands}))
    print("\n| family | " + " | ".join(f"x{s}" for s in scales) + " | b |")
    print("|---|" + "---|" * (len(scales) + 1))
    for fam, res in results.items():
        row = " | ".join(f"{w:.2f}s" for w in res["walls"])
        print(f"| {fam} | {row} | {res['b']:.2f} |")


if __name__ == "__main__":
    main()
