#!/usr/bin/env python
"""Per-phase wall-clock breakdown of one steady-state span- or near-dedup batch.

Rounds 8-10 found every major streaming regression (the
dynamic-partition committer's 12 s appends, the double probe collect,
the rebuild-per-batch from stale meta) with the same ad-hoc method:
monkeypatch the index/store entry points with wall-clock wrappers and
drive the exported ``make_span_dedup_processor`` directly with a static
DataFrame — the streaming machinery adds nothing to the phase shape and
the batch becomes deterministic and re-runnable. This tool is that
method made repeatable: next time the fixed overhead moves, run this
first instead of re-deriving the harness.

Phases reported (driver-observed walls, so a phase includes the Spark
jobs it launches):

- ``touched_bands``  — the fused two-sidecar touched-band collect
- ``read_bands``     — pruned per-band index reads (both sidecars; the
                       frames are consumed lazily, so most read cost
                       lands in the jobs that consume them — this wall
                       is the listing/planning slice)
- ``append_many``    — the fused direct Arrow append of both sidecars
- ``corpus_write``   — the corpus append job (which evaluates the full
                       dedup lineage: exact guard, within-batch span,
                       history span)
- ``other``          — everything else (markers, settlement stats, ...)
- ``total``          — the whole ``process(batch, 0)`` call

Usage: python tools/span_phase_breakdown.py [--family span|near]
        [--base /root/testdata/sf0.1] [--scale 64] [--batch-docs 12]
        [--n-bands 2048] [--out /tmp/festvibes_probe_scale_r10]
        [--steady-warmup 0|1]
Reuses probe_scaling's corpus builders (cached under --out), times ONE
batch on a COPY of the corpus+indexes (a batch mutates them), prints one
JSON line + a markdown table.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--family", choices=("span", "near"), default="span")
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scale", type=int, default=64)
    ap.add_argument("--batch-docs", type=int, default=12)
    ap.add_argument("--n-bands", type=int, default=2048)
    ap.add_argument("--out", default="/tmp/festvibes_probe_scale_r10")
    ap.add_argument("--steady-warmup", type=int, default=0,
                    help="1 = warm the processor instance with one disjoint "
                         "batch first and report the steady-state shape")
    args = ap.parse_args()

    from probe_scaling import (
        build_history_docs,
        log,
        make_processor,
        prebuild_corpus,
        prebuild_sidecars,
        write_batch_source,
    )

    from fest_vibes_ai_etl_spark.session import get_spark
    from fest_vibes_ai_etl_spark.streaming import dedup_stream
    from fest_vibes_ai_etl_spark.streaming.banded_index import (
        BandedFingerprintIndex,
    )

    fam = args.family

    spark = get_spark(f"{fam}-phase-breakdown")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)

    # history corpus + indexes, cached across runs (probe_scaling layout)
    docs_dir = build_history_docs(args.base, args.out, args.scale)
    proto = os.path.join(args.out, f"{fam}_hist_x{args.scale}")
    if not os.path.exists(os.path.join(proto, "_SUCCESS")):
        log(f"building x{args.scale} {fam} history corpus ...")
        prebuild_corpus(spark, fam, docs_dir, proto)
    prebuild_sidecars(spark, make_processor(fam, proto, args.n_bands))

    src = os.path.join(args.out, "batch_src")
    write_batch_source(spark, args.base, src, args.batch_docs)
    batch = spark.read.parquet(src)

    def fresh_copy() -> str:
        """A mutable copy of corpus + sidecars (a batch appends to all)."""
        work = os.path.join(args.out, "phase_work")
        if os.path.exists(work):
            shutil.rmtree(work)
        os.makedirs(work)
        for name in os.listdir(args.out):
            if name.startswith(f"{fam}_hist_x{args.scale}"):
                shutil.copytree(
                    os.path.join(args.out, name),
                    os.path.join(work, name.replace(f"_x{args.scale}", "")),
                )
        return os.path.join(work, f"{fam}_hist")

    # warm the Python-worker/codegen machinery on a throwaway copy, same
    # as probe_scaling: the steady-state phase shape is the deliverable,
    # not the one-off session spin-up
    log("warmup batch ...")
    make_processor(fam, fresh_copy(), args.n_bands)(batch, 0)

    corpus = fresh_copy()
    walls: dict[str, float] = {}

    def timed(label, fn):
        @functools.wraps(fn)
        def wrap(*a, **k):
            t0 = time.monotonic()
            try:
                return fn(*a, **k)
            finally:
                walls[label] = walls.get(label, 0.0) + time.monotonic() - t0

        return wrap

    dedup_stream.combined_touched_bands = timed(
        "touched_bands", dedup_stream.combined_touched_bands
    )
    dedup_stream.append_many = timed("append_many", dedup_stream.append_many)
    BandedFingerprintIndex.read_bands = timed(
        "read_bands", BandedFingerprintIndex.read_bands
    )
    # corpus write (which evaluates the dedup lineage) has no seam to
    # wrap without touching product code: report it as the remainder
    process = make_processor(fam, corpus, args.n_bands)
    if args.steady_warmup:
        # steady-state shape: drive THIS processor instance through one
        # disjoint novel batch first, so its per-instance caches (the
        # sidecars' parquet-schema cache, resolved append destinations)
        # are warm — a long-running stream's batches all run warm; only
        # the very first batch after a restart pays the cold costs the
        # default (steady_warmup=0) run reports.
        warm_src = os.path.join(args.out, "batch_src_warm")
        write_batch_source(
            spark, args.base, warm_src, args.batch_docs, salt="wq",
            id_off=910_000_000,
        )
        log("instance warmup batch (steady-state mode) ...")
        process(spark.read.parquet(warm_src), 0)
        walls.clear()
    t0 = time.monotonic()
    process(batch, 1 if args.steady_warmup else 0)
    walls["total"] = time.monotonic() - t0
    walls["corpus_write_plus_other"] = walls["total"] - sum(
        v for k, v in walls.items() if k not in ("total",)
    )

    print(json.dumps({f"{fam}_phase_breakdown": {
        "scale": args.scale, "n_bands": args.n_bands,
        "steady_warmup": args.steady_warmup,
        "walls": {k: round(v, 3) for k, v in walls.items()},
    }}))
    print()
    print("| phase | wall |")
    print("|---|---|")
    for k in ("touched_bands", "read_bands", "append_many",
              "corpus_write_plus_other", "total"):
        print(f"| {k} | {walls.get(k, 0.0):.2f}s |")
    shutil.rmtree(os.path.join(args.out, "phase_work"))


if __name__ == "__main__":
    main()
