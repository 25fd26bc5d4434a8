#!/usr/bin/env python
"""Per-query isolation measurement harness.

Times individual catalog queries in isolation (bench methodology: fn().count()
after warmup, plus a noop-sink wall that forces every column — guide §1.4) and
dumps each query's `.explain("formatted")` to plans/<plans-tag>/<name>_<tag>.txt.

Usage:
  python tools/measure.py --queries q1_pricing_summary,dedup_containment \
      --tag before --reps 3 [--sf /root/testdata/sf0.1] [--explain-only]
  python tools/measure.py --all-bench --tag before --reps 3 [--plans-tag r15]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from fest_vibes_ai_etl_spark.plans.catalog import REGISTRY, queries  # noqa: E402
from fest_vibes_ai_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--all-bench", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--plans-tag", default="r15",
                    help="plan dumps go to plans/<plans-tag>/")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--warm-sf", default="/root/testdata/sf0.001")
    ap.add_argument("--explain-only", action="store_true")
    ap.add_argument("--noop", action="store_true",
                    help="also time the noop sink (forces all columns)")
    args = ap.parse_args()
    if args.reps < 1 and not args.explain_only:
        ap.error("--reps must be at least 1")

    queries()  # populate REGISTRY
    if args.all_bench:
        names = sorted(n for n, s in REGISTRY.items() if s.bench)
    else:
        names = [n for n in args.queries.split(",") if n]
    missing = [n for n in names if n not in REGISTRY]
    if missing:
        sys.exit(f"unknown queries: {missing}")

    plans_dir = Path(__file__).resolve().parents[1] / "plans" / args.plans_tag
    plans_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY[name]
        if spec.prepare is not None:
            spec.prepare(spark, args.sf)
            spark.catalog.clearCache()
        # explain dump (at the measured sf)
        df = spec.fn(spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        (plans_dir / f"{name}_{args.tag}.txt").write_text(buf.getvalue())
        if args.explain_only:
            print(f"# {name}: plan written", file=sys.stderr)
            continue
        # warmup (codegen) at tiny sf, then once at target sf (page cache)
        try:
            spec.fn(spark, args.warm_sf).count()
        except Exception:
            pass
        spark.catalog.clearCache()
        counts, noops = [], []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} count rep{rep}")
            t0 = time.perf_counter()
            n = spec.fn(spark, args.sf).count()
            counts.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
            if args.noop:
                spark.sparkContext.setJobDescription(f"{name} noop rep{rep}")
                t0 = time.perf_counter()
                (spec.fn(spark, args.sf).write.format("noop")
                 .mode("overwrite").save())
                noops.append(round(time.perf_counter() - t0, 3))
                spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
        rec = {"rows": n, "count_walls": counts, "min_count": min(counts)}
        if noops:
            rec["noop_walls"] = noops
            rec["min_noop"] = min(noops)
        out[name] = rec
        print(f"# {name}: count={counts} noop={noops} rows={n}",
              file=sys.stderr)

    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
