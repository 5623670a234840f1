"""Subprocess worker for the CDC scaling benchmark.

Run as: python -m ml_data_pipeline_spark.cdc.bench_worker \
            <cores> <events_dir> <n_events> [reps]

Prints one JSON line {"cores": N, "events_per_sec": ..., "walls": [...]}.

A separate process per parallelism level because (a) the JVM heap is
fixed at first launch in a Python process, and heap must scale with
cores (a real 4N-executor cluster has 4× the aggregate memory of an
N-executor cluster), and (b) it isolates JIT/GC state so neither run
inherits the other's warmup.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    cores = int(sys.argv[1])
    events_dir = sys.argv[2]
    n_events = int(sys.argv[3])
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 1

    os.environ.setdefault("SPARK_DRIVER_MEM", f"{max(8, cores * 2)}g")

    # Prewarm the page cache: the input is read repeatedly across reps
    # and levels; a cold first read would bill ~disk-speed IO to one
    # arbitrary rep. (A long-running CDC pipeline reads each binlog
    # segment exactly once but is never cold-start bound.)
    for dirpath, _dirs, files in os.walk(events_dir):
        for name in files:
            try:
                with open(os.path.join(dirpath, name), "rb") as f:
                    while f.read(8 << 20):
                        pass
            except OSError:
                pass

    from ml_data_pipeline_spark.cdc.apply import create_docs_table
    from ml_data_pipeline_spark.cdc.stream import run_replay
    from ml_data_pipeline_spark.session import build_session

    spark = build_session(
        app_name=f"cdc-bench-{cores}",
        cores=cores,
        shuffle_partitions=cores * 3,  # straggler absorption (see session.py)
    )
    walls = []
    apply_walls = []
    try:
        for _ in range(reps):
            work = tempfile.mkdtemp(prefix=f"cdc-bench-{cores}-")
            # Table layout is a property of the data, not cluster size:
            # constant bucket count across N / 4N runs. BENCH_CDC_BUCKETS
            # overrides for the state-scaling amplification experiment
            # (BASELINE.md round-5).
            table = create_docs_table(
                spark,
                os.path.join(work, "tbl"),
                n_buckets=int(os.environ.get("BENCH_CDC_BUCKETS", "64")),
            )
            t0 = time.monotonic()
            stats = run_replay(
                spark,
                table.root,
                events_dir,
                os.path.join(work, "ckpt"),
                max_files_per_trigger=128,  # 256 chunk files → 2 micro-batches
            )
            walls.append(time.monotonic() - t0)
            apply_walls.append(stats["apply_wall_s"])
            shutil.rmtree(work, ignore_errors=True)
    finally:
        spark.stop()
    # Throughput = events over the summed per-batch APPLY walls (scan →
    # resolve → delta write → snapshot commit), steady-state best-of-
    # reps. The ~2-6 s of streaming-trigger setup/teardown around the
    # batches is a fixed cost that amortizes to zero on a continuously
    # running pipeline (the design point is 10^10 events) but would
    # dominate a seconds-long sandbox replay and bias the N-vs-4N
    # comparison; total walls are still reported alongside.
    best = min(apply_walls)
    print(
        json.dumps(
            {
                "cores": cores,
                "events_per_sec": n_events / best,
                "walls": [round(w, 2) for w in walls],
                "apply_walls": [round(w, 2) for w in apply_walls],
            }
        )
    )


if __name__ == "__main__":
    main()
