#!/usr/bin/env python
"""Measure what the delete path costs the hot paths — the claim in
STATE.md §6 ("one filesystem stat per batch until the first delete
exists, then one broadcast anti-join") as numbers, not prose.

Three measurements at the target sf:

1. BM25 probe wall over the persisted store with 0 vs N tombstoned docs
   (the tombstone set is a broadcast anti-join on the pruned hits +
   doclen — the delta should be a broadcast build, not a scan).
2. Near-dedup steady-state micro-batch wall with and without a tombstone
   set present (entry burn + candidate-target anti-join per batch).
3. The no-deletes fast path: read_tombstones on a store with no
   tombstone directory (must be a single filesystem stat, microseconds —
   this is what every batch/probe pays forever when nothing was ever
   deleted).

4. (``--sweep``) The GDPR-scale curve: the BM25 probe wall with 10³,
   10⁵ and 10⁶ tombstoned ids in the set — past
   ``TOMBSTONE_BROADCAST_MAX_BYTES`` the read drops the broadcast hint
   (the bounded-broadcast escape) and the anti-joins degrade to shuffle
   joins instead of a driver-side set; the probe wall must stay bounded,
   not driver-OOM. Reports per-n wall, on-disk bytes, and whether the
   escape engaged.

Usage: python tools/tombstone_overhead.py [--base /root/testdata/sf0.1]
         [--n-tombstones 500] [--repeats 3] [--out /tmp/festvibes_tomb]
         [--sweep 1000,100000,1000000]
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

TERMS = ["merge", "hash", "window"]


def best_of(fn, repeats: int) -> float:
    best = math.inf
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--n-tombstones", type=int, default=500)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--out", default="/tmp/festvibes_tomb")
    ap.add_argument(
        "--sweep",
        default="",
        help="comma-separated tombstone-set sizes for the scale curve "
        "(e.g. 1000,100000,1000000); empty = skip",
    )
    args = ap.parse_args()
    if os.path.isdir(args.out):
        shutil.rmtree(args.out)
    os.makedirs(args.out)

    from pyspark.sql import functions as F

    from fest_vibes_ai_etl_spark.operators.search import (
        load_or_build_postings_store,
    )
    from fest_vibes_ai_etl_spark.session import get_spark
    from fest_vibes_ai_etl_spark.sources import table
    from fest_vibes_ai_etl_spark.streaming import incremental_search as inc
    from fest_vibes_ai_etl_spark.streaming import tombstones as tb
    from fest_vibes_ai_etl_spark.streaming.incremental_near_dedup import (
        make_near_dedup_processor,
    )

    spark = get_spark("tombstone-overhead")
    spark.sparkContext.setLogLevel("ERROR")
    docs = table(spark, args.base, "documents").select("doc_id", "text")

    # --- 1. BM25 probe, 0 vs N tombstones -------------------------------
    store = os.path.join(args.out, "store")
    load_or_build_postings_store(spark, docs, args.base, store_path=store)
    inc.bm25_over_index(spark, store, TERMS).collect()  # warm
    probe_clean = best_of(
        lambda: inc.bm25_over_index(spark, store, TERMS).collect(), args.repeats
    )
    # the no-deletes fast path: a filesystem stat, measured directly
    t0 = time.perf_counter()
    for _ in range(100):
        assert tb.read_tombstones(spark, store) is None
    stat_us = round((time.perf_counter() - t0) / 100 * 1e6)
    n_docs = docs.count()
    victims = [int(r[0]) for r in docs.select("doc_id").limit(args.n_tombstones).collect()]
    inc.delete_from_search_index(spark, store, victims)
    inc.bm25_over_index(spark, store, TERMS).collect()  # warm
    probe_tomb = best_of(
        lambda: inc.bm25_over_index(spark, store, TERMS).collect(), args.repeats
    )

    # --- 2. near-dedup batch wall, with/without tombstones ---------------
    walls = {}
    for mode in ("clean", "tombstoned"):
        corpus = os.path.join(args.out, f"near_{mode}")
        proc = make_near_dedup_processor(corpus, k=3, num_hashes=32, bands=8,
                                         threshold=0.2)
        proc(docs.filter("doc_id < 2000"), 0)  # history
        if mode == "tombstoned":
            tb.delete_from_dedup_corpus(
                spark, corpus, list(range(args.n_tombstones))
            )
        novel = docs.filter("doc_id >= 2000 AND doc_id < 2012").select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", f"$1zz{mode}").alias("text"),
        ).localCheckpoint()
        best = math.inf
        for i in range(args.repeats):
            shifted = novel.select(
                (F.col("doc_id") + i * 100).alias("doc_id"), "text"
            )
            t0 = time.perf_counter()
            proc(shifted, 10 + i)
            best = min(best, time.perf_counter() - t0)
        walls[mode] = round(best, 3)

    # --- 4. scale sweep: probe wall vs tombstone-set size ----------------
    sweep_rows = []
    if args.sweep:
        import glob

        from fest_vibes_ai_etl_spark.streaming.state_store import (
            invalidate_probe_memo,
        )
        from fest_vibes_ai_etl_spark.streaming.tombstones import (
            TOMBSTONE_BROADCAST_MAX_BYTES,
            tombstones_path,
        )

        for n in [int(x) for x in args.sweep.split(",") if x]:
            sstore = os.path.join(args.out, f"sweep_{n}")
            load_or_build_postings_store(
                spark, docs, args.base, store_path=sstore
            )
            # synthesize the accumulated suppression list directly (ids
            # beyond the corpus range model long-erased docs; a real set
            # arrives through delete_from_search_index one request at a
            # time and is compacted by the delete-time maintenance)
            tdir = tombstones_path(sstore)
            (
                spark.range(10_000_000, 10_000_000 + n)
                .select(F.col("id").alias("doc_id"))
                .coalesce(8)
                .write.mode("overwrite")
                .parquet(tdir)
            )
            invalidate_probe_memo(sstore)
            nbytes = sum(
                os.path.getsize(p)
                for p in glob.glob(os.path.join(tdir, "*.parquet"))
            )
            inc.bm25_over_index(spark, sstore, TERMS).collect()  # warm
            wall = best_of(
                lambda: inc.bm25_over_index(spark, sstore, TERMS).collect(),
                args.repeats,
            )
            sweep_rows.append(
                {
                    "n_tombstoned": n,
                    "bytes": nbytes,
                    "escape_engaged": nbytes > TOMBSTONE_BROADCAST_MAX_BYTES,
                    "bm25_probe_s": wall,
                }
            )

    result = {
        "metric": "tombstone_overhead",
        "sf_docs": n_docs,
        "n_tombstones": args.n_tombstones,
        "bm25_probe_clean": probe_clean,
        "bm25_probe_tombstoned": probe_tomb,
        "near_batch_clean": walls["clean"],
        "near_batch_tombstoned": walls["tombstoned"],
        "read_tombstones_absent_us": stat_us,
        "sweep": sweep_rows,
    }
    print("| measurement | clean | tombstoned |")
    print("|---|---|---|")
    print(f"| bm25 probe wall (s) | {probe_clean} | {probe_tomb} |")
    print(f"| near-dedup batch wall (s) | {walls['clean']} | {walls['tombstoned']} |")
    print(f"| read_tombstones absent-path | {stat_us} µs/call | — |")
    if sweep_rows:
        print()
        print("| n tombstoned | set bytes | escape | bm25 probe (s) |")
        print("|---|---|---|---|")
        for r in sweep_rows:
            print(
                f"| {r['n_tombstoned']:,} | {r['bytes']:,} | "
                f"{'shuffle' if r['escape_engaged'] else 'broadcast'} | "
                f"{r['bm25_probe_s']} |"
            )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
