"""Hot-key skew sweep: CDC apply throughput vs hot-key fraction.

Evidence for the skew-defense design claim: the per-key resolve is a
partially-aggregable max-struct (hot keys collapse map-side before the
shuffle, to at most one row per map task), so throughput should
degrade only mildly as an increasing fraction of all change events
target a single doc_id. The sweep measures events/sec at each hot
fraction in ``SKEW_FRACTIONS`` (default 0 / 5% / 20%) on
``SKEW_CORES`` cores (default: the host's, ``SPARK_GRAFT_CPUS`` else
``os.cpu_count()``).

Run standalone (NOT alongside any other Spark job — timing):
    python scripts/bench_skew.py
Prints one JSON line:
    {"metric": "cdc_hot_key_sweep", "cores": 4, "n_events": ...,
     "points": {"0.0": ev_s, ...}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ml_data_pipeline_spark.session import default_parallelism  # noqa: E402

CORES = int(os.environ.get("SKEW_CORES") or default_parallelism())
DOCS = int(os.environ.get("SKEW_DOCS", "200000"))
EVENTS = int(os.environ.get("SKEW_EVENTS", "8000000"))
FRACTIONS = [
    float(x) for x in os.environ.get("SKEW_FRACTIONS", "0.0,0.05,0.2").split(",")
]
REPS = int(os.environ.get("SKEW_REPS", "2"))


def main() -> None:
    from ml_data_pipeline_spark.cdc.apply import create_docs_table
    from ml_data_pipeline_spark.cdc.events import generate_change_stream
    from ml_data_pipeline_spark.cdc.stream import run_replay
    from ml_data_pipeline_spark.session import build_session

    os.environ.setdefault("SPARK_DRIVER_MEM", f"{max(8, CORES * 2)}g")
    spark = build_session(
        app_name="cdc-skew-sweep", cores=CORES, shuffle_partitions=CORES * 3
    )
    points: dict[str, float] = {}
    try:
        warmed = False
        for frac in FRACTIONS:
            events_dir = tempfile.mkdtemp(prefix="cdc-skew-events-")
            try:
                generate_change_stream(
                    spark,
                    events_dir,
                    DOCS,
                    EVENTS,
                    n_chunks=8,
                    seed=42,
                    hot_key_fraction=frac,
                    shuffle_window=10_000,
                    max_tokens=48,
                )
                best = float("inf")
                reps = REPS + (0 if warmed else 1)
                for i in range(reps):
                    work = tempfile.mkdtemp(prefix="cdc-skew-")
                    t = create_docs_table(
                        spark, os.path.join(work, "tbl"), n_buckets=64
                    )
                    stats = run_replay(
                        spark,
                        t.root,
                        events_dir,
                        os.path.join(work, "ckpt"),
                        max_files_per_trigger=64,
                        timeout_sec=1200,
                    )
                    if not (i == 0 and not warmed):  # drop JIT warmup rep
                        best = min(best, stats["apply_wall_s"])
                    shutil.rmtree(work, ignore_errors=True)
                warmed = True
                points[str(frac)] = round(EVENTS / best, 1)
            finally:
                shutil.rmtree(events_dir, ignore_errors=True)
        print(
            json.dumps(
                {
                    "metric": "cdc_hot_key_sweep",
                    "cores": CORES,
                    "n_docs": DOCS,
                    "n_events": EVENTS,
                    "points": points,
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
