#!/usr/bin/env python
"""Per-query isolation profiler (optimization-round tooling).

Times individual registered queries against the noop sink (guide §1.4)
— cold + STEADY_RUNS steady samples — and optionally dumps
``.explain("formatted")`` to a plans directory. Unlike bench.py this
runs an arbitrary subset with arbitrary SparkSession conf overlays, so
A/B config experiments don't need a full 141-query bench run.

Usage:
  python profile_queries.py [--sf DIR] [--plans OUTDIR] [--runs N]
                            [--conf k=v ...] [--tag LABEL] q1 q2 ...
Prints one JSON line per query: {"q": name, "cold": s, "steady": [..],
"build_jobs": n}, where ``build_jobs`` counts the Spark jobs the last
steady call started while building its plan (job group
``profile-build:<q>:<run>``), before execution: zero once every schema and
artifact the query reads is resolved.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default=None, help="dir for <q>_<suffix>.txt explain dumps")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("--tag", default="")
    args = ap.parse_args()

    overrides = dict(c.split("=", 1) for c in args.conf)
    from starknet_indexer_spark.queries import REGISTRY
    from starknet_indexer_spark.session import get_spark

    from tests.jobs import job_group

    spark = get_spark("profile", **overrides)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(10).write.format("noop").mode("overwrite").save()
    # mirror bench.py: silver/artifact caches cleared so cold includes
    # first-refresh materialization, footers warmed outside timings
    from starknet_indexer_spark.silver import clear_cache

    clear_cache()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = f"{args.sf.rstrip('/')}/{t}.parquet"
        if os.path.isdir(p) or os.path.isfile(p):
            spark.read.parquet(p).count()

    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != args.sf.rstrip("/"):
        for name in args.queries:
            with contextlib.suppress(Exception):
                REGISTRY[name].fn(spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()

    results = []
    for name in args.queries:
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        try:
            t0 = time.perf_counter()
            df = q.fn(spark, args.sf)
            buildt = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            coldt = round(buildt + time.perf_counter() - t0, 3)
            steady, build_jobs = [], None
            for i in range(args.runs):
                # the job group's listener-bus drains stay outside the timing
                with job_group(spark.sparkContext, f"profile-build:{name}:{i}") as jobs:
                    t0 = time.perf_counter()
                    df = q.fn(spark, args.sf)
                    dt = time.perf_counter() - t0
                build_jobs = len(jobs["grouped"])
                spark.sparkContext.setJobDescription(f"profile:{name}")
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                steady.append(round(dt + time.perf_counter() - t0, 3))
            rec = {"q": name, "cold": coldt, "build": buildt, "steady": steady,
                   "median": sorted(steady)[len(steady) // 2],
                   "build_jobs": build_jobs}
            if args.tag:
                rec["tag"] = args.tag
            results.append(rec)
            print(json.dumps(rec), flush=True)
            if args.plans:
                os.makedirs(args.plans, exist_ok=True)
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    q.fn(spark, args.sf).explain("formatted")
                with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as fh:
                    fh.write(buf.getvalue())
        except Exception as exc:  # noqa: BLE001 — per-query isolation
            print(json.dumps({"q": name, "error": f"{type(exc).__name__}: {exc}"[:300]}),
                  flush=True)
    total = round(sum(r["median"] for r in results), 3)
    print(json.dumps({"tag": args.tag, "n": len(results), "median_total": total,
                      "cold_total": round(sum(r["cold"] for r in results), 3)}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
