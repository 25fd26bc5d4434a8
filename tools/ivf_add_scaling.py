#!/usr/bin/env python
"""Incremental-IVF add scaling: the cell-pruned replay guard.

Round 10 made ``ivf.make_index_add_processor`` batch-proportional:
the replay guard reads only the batch's own ``cell_id=`` directories
(the frozen quantizer pins a replayed vector to the cell it was stored
under) instead of the whole stored id column, and the append writes
directly from executors instead of through the dynamic-partition
committer. This tool measures it, `probe_scaling.py`-style: it
replicates the embeddings table to 1×/8×/64× with disjoint ids,
prebuilds the cell-partitioned index once per scale, then times ONE
fixed-size micro-batch of NOVEL vectors through the real processor
(``make_index_add_processor``) on a fresh copy of the index per run (an
append mutates it). Also reports the guard's input rows (stored ids
visible to the anti-join) — bounded by the batch's cells, where a
whole-id-column guard grew linearly with the index. That guard itself
is gone; SCALE.md keeps its recorded walls.

Usage: python tools/ivf_add_scaling.py [--base /root/testdata/sf0.1]
        [--scales 1,8,64] [--batch-vecs 50] [--cells 64]
        [--out /tmp/festvibes_ivf_add_scale]
Writes one JSON line + a markdown table to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scales", default="1,8,64")
    ap.add_argument("--batch-vecs", type=int, default=50)
    ap.add_argument("--cells", type=int, default=64)
    ap.add_argument("--out", default="/tmp/festvibes_ivf_add_scale")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from pyspark.sql import functions as F

    from fest_vibes_ai_etl_spark.operators import ivf
    from fest_vibes_ai_etl_spark.session import get_spark

    spark = get_spark("ivf-add-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)

    emb = spark.read.parquet(os.path.join(args.base, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    n_base = emb.count()

    def replicated(r: int):
        reps = spark.range(r).select(F.col("id").alias("rep"))
        return emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * n_base).alias("vec_id"),
            "embedding",
        )

    # one frozen quantizer for every scale: the batch's touched-cell
    # count (the pruned guard's bound) must not vary across scales
    _, centers = ivf.build_ivf_index(emb, k=args.cells, seed=7)

    # the timed batch: NOVEL ids (ids beyond every scale's range), novel
    # embeddings via a deterministic element-wise nudge
    batch = (
        emb.filter(F.col("vec_id") < args.batch_vecs)
        .select(
            (F.col("vec_id") + n_base * (max(scales) + 1)).alias("vec_id"),
            F.transform(
                "embedding", lambda x, i: x + 0.001 * (i + 1)
            ).alias("embedding"),
        )
        .cache()
    )
    batch.count()

    results: dict[str, list] = {
        "scales": scales, "walls": [], "guard_rows": [],
    }
    for r in scales:
        proto = os.path.join(args.out, f"index_x{r}")
        if not os.path.exists(os.path.join(proto, "_SUCCESS")):
            log(f"building x{r} index ({r * n_base} vectors) ...")
            assigned = ivf.assign_to_centers(replicated(r), centers)
            assigned.repartition("cell_id").write.mode("overwrite").partitionBy(
                "cell_id"
            ).parquet(proto)
        touched = sorted(
            row.cell_id
            for row in ivf.assign_to_centers(batch, centers)
            .select("cell_id")
            .distinct()
            .collect()
        )
        stored = spark.read.parquet(proto)
        pruned_ids = stored.filter(F.col("cell_id").isin(touched)).count()
        work = os.path.join(args.out, f"work_x{r}")
        if os.path.exists(work):
            shutil.rmtree(work)
        shutil.copytree(proto, work)
        process = ivf.make_index_add_processor(work, centers)
        t0 = time.monotonic()
        process(batch, 0)
        wall = time.monotonic() - t0
        results["walls"].append(round(wall, 3))
        results["guard_rows"].append(pruned_ids)
        log(f"x{r}: {wall:.3f}s (guard rows {pruned_ids})")
        shutil.rmtree(work)

    print(json.dumps({"ivf_add_scaling": results,
                      "batch_vecs": args.batch_vecs, "cells": args.cells}))
    print()
    print("| | " + " | ".join(f"x{r}" for r in scales) + " |")
    print("|---|" + "---|" * len(scales))
    print("| wall | " + " | ".join(f"{w:.2f}s" for w in results["walls"]) + " |")
    print("| guard rows read | "
          + " | ".join(str(n) for n in results["guard_rows"]) + " |")


if __name__ == "__main__":
    main()
