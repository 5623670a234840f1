"""sf1 evidence run for the bounded cosine_neardup_pairs (VERDICT r4
next-round #2): trained-kmeans quantizer at 10× data, reporting the
derived cell count, the per-cell occupancy distribution (the linear
memory axis), and an A/B of the sub-blocked GEMM (tile_rows small
enough to force multi-tile cells) proving identical output with
bounded score-matrix memory.

Usage: python scripts/bench_neardup_sf1.py [sf_dir]   (default /tmp/testdata/sf1)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/testdata/sf1"
    from pyspark.sql import functions as F

    from ml_data_pipeline_spark.operators import similarity as S
    from ml_data_pipeline_spark.session import build_session, default_parallelism
    from ml_data_pipeline_spark.sources.tables import load_table

    spark = build_session(app_name="neardup-sf1", cores=default_parallelism())
    n = load_table(spark, sf_dir, "embeddings").count()
    n_cells = S.derived_n_cells(n)
    cents = S.ivf_quantizer(spark, sf_dir)  # derived cells, sampled fit

    # occupancy of the derived quantizer (probes=1 assignment)
    e = load_table(spark, sf_dir, "embeddings").select(
        F.explode(
            S._cells_expr(F.col("embedding"), cents, probes=1)
        ).alias("cell")
    )
    occ = {
        r["cell"]: r["n"]
        for r in e.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sizes = sorted(occ.values())

    def run(tile_rows):
        t0 = time.monotonic()
        df = S.cosine_neardup_pairs(
            spark,
            sf_dir,
            quantizer="kmeans",
            probes=2,
            centroids=cents,
            tile_rows=tile_rows,
        )
        rows = df.collect()
        return time.monotonic() - t0, {
            (r["id_a"], r["id_b"], r["cosine"]) for r in rows
        }

    wall_full, pairs_full = run(S.GEMM_TILE_ROWS)
    # force sub-blocking: tile far below the max cell
    tile = max(64, sizes[-1] // 8)
    wall_tiled, pairs_tiled = run(tile)
    spark.stop()

    print(
        json.dumps(
            {
                "n_vectors": n,
                "derived_n_cells": n_cells,
                "cell_occupancy": {
                    "max": sizes[-1],
                    "p50": sizes[len(sizes) // 2],
                    "min": sizes[0],
                    "n_cells_used": len(sizes),
                },
                "target_cell_rows": S.IVF_TARGET_CELL_ROWS,
                "pairs": len(pairs_full),
                "wall_single_tile_s": round(wall_full, 2),
                "forced_tile_rows": tile,
                "wall_subblocked_s": round(wall_tiled, 2),
                "subblocked_output_identical": pairs_full == pairs_tiled,
            }
        )
    )


if __name__ == "__main__":
    main()
