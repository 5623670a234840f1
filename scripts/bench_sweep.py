"""Micro-batch size sweep: CDC apply throughput vs maxFilesPerTrigger.

Evidence for the backpressure/batch-sizing design claim (reference
analog: the pipeline's batch-size knob, ml-data-core/src/
schedule.rs:33-42): bigger micro-batches amortize per-batch fixed cost
(planning + snapshot commit) but raise end-to-end latency per event;
the sweep quantifies the throughput side of that trade on this host.

Run standalone (NOT alongside any other Spark job — timing):
    python scripts/bench_sweep.py
Env knobs: SWEEP_CORES (default: the host's cores, SPARK_GRAFT_CPUS
else os.cpu_count()) / SWEEP_DOCS / SWEEP_EVENTS / SWEEP_SIZES /
SWEEP_REPS.
Prints one JSON line:
    {"metric": "cdc_batch_size_sweep", "cores": N,
     "n_events": ..., "points": {"16": ev_s, "64": ..., ...}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ml_data_pipeline_spark.session import default_parallelism  # noqa: E402

CORES = int(os.environ.get("SWEEP_CORES") or default_parallelism())
DOCS = int(os.environ.get("SWEEP_DOCS", "200000"))
EVENTS = int(os.environ.get("SWEEP_EVENTS", "8000000"))
# The generator writes 8 chunks × CORES files (64 binlog files at 8
# cores, where these sizes give 16 / 4 / 1 micro-batches).
SIZES = [int(x) for x in os.environ.get("SWEEP_SIZES", "4,16,64").split(",")]
REPS = int(os.environ.get("SWEEP_REPS", "2"))


def main() -> None:
    from ml_data_pipeline_spark.cdc.apply import create_docs_table
    from ml_data_pipeline_spark.cdc.stream import run_replay
    from ml_data_pipeline_spark.cdc.events import generate_change_stream
    from ml_data_pipeline_spark.session import build_session

    os.environ.setdefault("SPARK_DRIVER_MEM", f"{max(8, CORES * 2)}g")
    spark = build_session(
        app_name="cdc-sweep", cores=CORES, shuffle_partitions=CORES * 3
    )
    events_dir = tempfile.mkdtemp(prefix="cdc-sweep-events-")
    try:
        generate_change_stream(
            spark,
            events_dir,
            DOCS,
            EVENTS,
            n_chunks=8,
            seed=42,
            shuffle_window=10_000,
            max_tokens=48,
        )
        # warmup pass (JIT) at the largest batch size
        points: dict[str, float] = {}
        order = [max(SIZES)] + SIZES  # first entry = discarded warmup
        for i, size in enumerate(order):
            best = float("inf")
            for _ in range(1 if i == 0 else REPS):
                work = tempfile.mkdtemp(prefix="cdc-sweep-")
                t = create_docs_table(
                    spark, os.path.join(work, "tbl"), n_buckets=64
                )
                stats = run_replay(
                    spark,
                    t.root,
                    events_dir,
                    os.path.join(work, "ckpt"),
                    max_files_per_trigger=size,
                    timeout_sec=1200,
                )
                best = min(best, stats["apply_wall_s"])
                shutil.rmtree(work, ignore_errors=True)
            if i > 0:
                points[str(size)] = round(EVENTS / best, 1)
        print(
            json.dumps(
                {
                    "metric": "cdc_batch_size_sweep",
                    "cores": CORES,
                    "n_docs": DOCS,
                    "n_events": EVENTS,
                    "points": points,
                }
            )
        )
    finally:
        shutil.rmtree(events_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
