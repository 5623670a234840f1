"""Round-6 measurement harness (guide §1): noop-sink isolation +
formatted-plan capture per query.

NOT the driver bench (bench.py is frozen); this exists so the
optimization round can (a) time each query's computation without the
count() sink or cross-query interference, (b) dump
`.explain("formatted")` into plans/r06/<query>_{before,after}.txt, and
(c) compare before/after without re-running the whole suite.

Usage:
  python scripts/bench_extra.py [--sf DIR] [--reps N] [--plans TAG]
                                [--queries a,b,c] [--no-time]

  --plans before   -> writes plans/r06/<q>_before.txt
  --plans after    -> writes plans/r06/<q>_after.txt
  --no-time        -> capture plans only (no execution)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="tag: before|after (writes plans/r06/)")
    ap.add_argument("--queries", default=None, help="comma list; default = all")
    ap.add_argument("--no-time", action="store_true")
    ap.add_argument("--warmup", action="store_true", help="one sf0.001 pass first")
    ap.add_argument(
        "--sink",
        default="noop",
        choices=["noop", "count"],
        help="noop = full materialization; count = the frozen bench.py "
        "methodology (lets Catalyst prune unused columns/sorts)",
    )
    args = ap.parse_args()

    from ml_data_pipeline_spark import queries as registry
    from ml_data_pipeline_spark.session import build_session, default_parallelism

    spark = build_session(app_name="bench_extra", cores=default_parallelism())
    qs = registry.queries()
    if args.queries:
        want = args.queries.split(",")
        qs = {k: qs[k] for k in want}

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    if args.plans:
        os.makedirs(plans_dir, exist_ok=True)

    results: dict[str, list[float]] = {}
    for name, fn in qs.items():
        if args.warmup and os.path.isdir("/root/testdata/sf0.001"):
            try:
                fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
            except Exception:
                pass
        if args.plans:
            import contextlib
            import io

            df = fn(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.plans}.txt"), "w") as f:
                f.write(buf.getvalue())
        if args.no_time:
            continue
        walls = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            df = fn(spark, args.sf)
            if args.sink == "count":
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = walls
        print(f"{name}: {walls}", file=sys.stderr, flush=True)
    if not args.no_time:
        print(json.dumps({"sf": args.sf, "noop_walls": results}))
    spark.stop()


if __name__ == "__main__":
    main()
