"""State-scaling amplification experiment (VERDICT r4, next-round #6).

Round 4 measured one data-scaling point: 100M events / 2M docs at 8
cores sustains ~880k ev/s vs ~1.19M at 20M/500k — a ~26% drop for 4×
final-table state. This script produces the amplification CURVE the
round-5 write-up needs: the same 100M-event replay at two bucket
counts (64 = the bench default, 128 = 2×), 3 reps each, so we can say
whether the drop is touched-bucket read amplification (halving bucket
size should then shift the wall) or inherent O(base-bytes-per-batch)
re-read cost (bucket count then barely matters for a uniform key
stream, which touches every bucket every batch).

Usage: python scripts/bench_state_scaling.py [events_dir]
  With no argument, generates 100M events / 2M docs into a temp dir
  (reused across both bucket levels, deleted at the end). Pass an
  existing events dir to skip generation. Env knobs:
  STATE_DOCS / STATE_EVENTS / STATE_CORES (default: the host's cores,
  SPARK_GRAFT_CPUS else os.cpu_count()) / STATE_REPS / STATE_BUCKETS
  (comma list, default "64,128").

Prints one JSON line per bucket level plus a summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from ml_data_pipeline_spark.session import default_parallelism  # noqa: E402

DOCS = int(os.environ.get("STATE_DOCS", "2000000"))
EVENTS = int(os.environ.get("STATE_EVENTS", "100000000"))
CORES = int(os.environ.get("STATE_CORES") or default_parallelism())
REPS = int(os.environ.get("STATE_REPS", "3"))
BUCKETS = [
    int(x) for x in os.environ.get("STATE_BUCKETS", "64,128").split(",")
]


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    own_dir = len(sys.argv) < 2
    if own_dir:
        events_dir = tempfile.mkdtemp(prefix="cdc-state-events-")
        from ml_data_pipeline_spark.cdc.events import generate_change_stream
        from ml_data_pipeline_spark.session import build_session

        spark = build_session(app_name="state-gen", cores=default_parallelism())
        generate_change_stream(
            spark,
            events_dir,
            DOCS,
            EVENTS,
            n_chunks=8,
            seed=42,
            hot_key_fraction=0.01,
            dup_fraction=0.0,
            shuffle_window=10_000,
            max_tokens=48,
        )
        spark.stop()
    else:
        events_dir = sys.argv[1]

    results = {}
    try:
        for nb in BUCKETS:
            env = dict(os.environ, BENCH_CDC_BUCKETS=str(nb))
            out = subprocess.run(
                [
                    sys.executable,
                    "-m",
                    "ml_data_pipeline_spark.cdc.bench_worker",
                    str(CORES),
                    events_dir,
                    str(EVENTS),
                    str(REPS),
                ],
                capture_output=True,
                text=True,
                cwd=repo,
                env=env,
                timeout=7200,
            )
            if out.returncode != 0:
                raise RuntimeError(
                    f"worker (buckets={nb}) failed: {out.stderr[-2000:]}"
                )
            r = json.loads(out.stdout.strip().splitlines()[-1])
            r["n_buckets"] = nb
            results[nb] = r
            print(json.dumps(r))
    finally:
        if own_dir:
            shutil.rmtree(events_dir, ignore_errors=True)
    base = results[BUCKETS[0]]["events_per_sec"]
    print(
        json.dumps(
            {
                "docs": DOCS,
                "events": EVENTS,
                "cores": CORES,
                "ev_s_by_buckets": {
                    str(nb): round(r["events_per_sec"], 1)
                    for nb, r in results.items()
                },
                "ratio_vs_first": {
                    str(nb): round(r["events_per_sec"] / base, 3)
                    for nb, r in results.items()
                },
            }
        )
    )


if __name__ == "__main__":
    main()
