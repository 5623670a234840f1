"""Patch-table ('P') throughput evidence (round-5 verdict #6).

The CDC bench replays I/U/D only; the per-column LWW overlay reduce
had correctness tests but no published events/sec or scaling sample.
This script measures a patch-heavy replay at N vs 4N cores:

  1. generate a normal change stream (the frozen generator, untouched);
  2. rewrite ~50% of events as op 'P' partial-column updates (each
     patch sets exactly one of {tokens+n_tok, source}, nulls the
     rest — a pure Spark transform, written back as delivery chunks);
  3. replay chunk-by-chunk with merge_batch into a patch-enabled
     table in a fresh subprocess per core count (same isolation
     rationale as cdc/bench_worker.py), best-of-reps.

Usage: python scripts/bench_patch_stream.py [--docs 200000]
         [--events 4000000] [--reps 3] [--n N]
N defaults to bench.py's pair: max(1, cores // 16).
Prints one JSON line with events/sec at N and 4N and the efficiency.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ml_data_pipeline_spark.session import default_parallelism  # noqa: E402

WORKER = "__patch_worker__"


def _worker() -> None:
    cores = int(sys.argv[2])
    events_dir = sys.argv[3]
    n_events = int(sys.argv[4])
    reps = int(sys.argv[5])
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{max(8, cores * 2)}g")

    import shutil

    from ml_data_pipeline_spark.cdc.events import DOC_SCHEMA
    from ml_data_pipeline_spark.lake.table import LakeTable
    from ml_data_pipeline_spark.session import build_session

    spark = build_session(
        app_name=f"patch-bench-{cores}", cores=cores,
        shuffle_partitions=cores * 3,
    )
    chunks = sorted(
        os.path.join(events_dir, d)
        for d in os.listdir(events_dir)
        if d.startswith("chunk=")
    )
    # Two micro-batches of 4 chunks each — the same batch sizing as the
    # I/U/D bench (maxFilesPerTrigger=128 over 256 files): per-batch
    # driver fixed costs (refresh, snapshot commit, worker spin-up)
    # amortize over millions of events, so the measurement is the
    # patch REDUCE, not the trigger overhead.
    groups = [chunks[: len(chunks) // 2], chunks[len(chunks) // 2:]]
    walls = []
    for _ in range(reps):
        work = tempfile.mkdtemp(prefix=f"patch-bench-{cores}-")
        tbl = LakeTable.create(
            spark, os.path.join(work, "tbl"), DOC_SCHEMA,
            key_col="doc_id", n_buckets=64,
            properties={"patch.enabled": "true"},
        )
        t0 = time.monotonic()
        for i, grp in enumerate(groups):
            df = spark.read.parquet(*grp)
            tbl.merge_batch(df, batch_id=i, stream_id="patchbench")
        walls.append(time.monotonic() - t0)
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    best = min(walls)
    print(json.dumps({
        "cores": cores,
        "events_per_sec": n_events / best,
        "walls": [round(w, 2) for w in walls],
    }))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == WORKER:
        _worker()
        return
    cores = default_parallelism()
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200000)
    ap.add_argument("--events", type=int, default=4000000)
    ap.add_argument("--reps", type=int, default=3)
    # N vs 4N pair as in bench.py: N = cores/16, at least 1.
    ap.add_argument("--n", type=int, default=max(1, cores // 16))
    ap.add_argument("--patch-fraction", type=float, default=0.5)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ml_data_pipeline_spark.cdc.events import generate_change_stream
    from ml_data_pipeline_spark.session import build_session

    spark = build_session(app_name="patch-bench-gen", cores=cores)
    raw = tempfile.mkdtemp(prefix="patch-raw-")
    out = tempfile.mkdtemp(prefix="patch-events-")
    generate_change_stream(
        spark, raw, args.docs, args.events, n_chunks=8, seed=77,
        hot_key_fraction=0.01, dup_fraction=0.0, shuffle_window=10_000,
        max_tokens=48,
    )
    # Rewrite ~patch_fraction of non-delete events as partial patches:
    # half set (tokens, n_tok), half set (source). Deterministic in seq.
    ev = spark.read.parquet(raw)
    h = F.pmod(F.xxhash64(F.lit(77), F.lit("patch"), F.col("seq")), F.lit(1000))
    is_patch = (F.col("op") != "D") & (h < int(args.patch_fraction * 1000))
    which = F.pmod(F.xxhash64(F.lit(77), F.lit("which"), F.col("seq")), F.lit(2))
    patched = (
        ev.withColumn("op", F.when(is_patch, F.lit("P")).otherwise(F.col("op")))
        .withColumn(
            "tokens",
            F.when(is_patch & (which == 1), F.lit(None).cast("array<int>"))
            .otherwise(F.col("tokens")),
        )
        .withColumn(
            "n_tok",
            F.when(is_patch & (which == 1), F.lit(None).cast("int"))
            .otherwise(F.col("n_tok")),
        )
        .withColumn(
            "source",
            F.when(is_patch & (which == 0), F.lit(None).cast("string"))
            .otherwise(F.col("source")),
        )
    )
    patched.write.mode("overwrite").partitionBy("chunk").parquet(out)
    n_patch = patched.where(F.col("op") == "P").count()
    spark.stop()

    def run(cores: int) -> dict:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), WORKER, str(cores),
             out, str(args.events), str(args.reps)],
            capture_output=True, text=True, timeout=3600,
        )
        if r.returncode != 0:
            raise RuntimeError(r.stderr[-2000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    r_n = run(args.n)
    r_4n = run(args.n * 4)
    eff = (r_4n["events_per_sec"] / r_n["events_per_sec"]) / 4.0
    print(json.dumps({
        "metric": "patch_replay",
        "n_events": args.events,
        "n_patches": n_patch,
        "cores_n": args.n,
        "cores_4n": args.n * 4,
        "events_per_sec_n": round(r_n["events_per_sec"], 1),
        "events_per_sec_4n": round(r_4n["events_per_sec"], 1),
        "walls_n": r_n["walls"],
        "walls_4n": r_4n["walls"],
        "scaling_efficiency": round(eff, 3),
    }))


if __name__ == "__main__":
    main()
