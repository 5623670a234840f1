"""Shared-testdata table loading (TESTDATA.md contract).

Reference analog: the source factory + format autodetection
(/root/reference/ml-data/ml-data-readers/src/factory.rs:52-136,
 common.rs:70-148). Here formats are explicit Parquet and Spark's
datasource handles split planning; loading stays declarative so
Catalyst can push filters/projections into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# Compressed input bytes per spread partition. Parquet text/array
# columns decode at ~10-15× file size, so 256 KB of file ≈ 2-4 MB of
# rows — small enough that the expensive per-row work above the spread
# parallelizes, big enough that a tiny input does not fan out into
# pure task-scheduling overhead (measured: a fixed 96-way spread cost
# kmeans_clusters +1.8 s and ann_topk +0.23 s at sf0.1, where the
# whole table is under 1 MB). Env-overridable for experiments.
SPREAD_TARGET_FILE_BYTES = int(
    os.environ.get("SPREAD_TARGET_FILE_BYTES", 256 * 1024)
)


def _local_table_path(sf_dir: str, name: str) -> str:
    """The table's path on the local filesystem. ``sf_dir`` is a plain
    path or a ``file:`` URI; any other scheme raises ``ValueError``, since
    the size and row-group probes below read the local filesystem, where
    a remote table would look empty and unsplittable."""
    from urllib.parse import urlparse

    url = urlparse(sf_dir)
    if url.scheme == "file" and url.netloc in ("", "localhost"):
        sf_dir = url.path
    elif url.scheme:
        raise ValueError(
            f"{sf_dir!r} is not a local path (scheme {url.scheme!r}): input "
            f"size and scan parallelism are read from the local filesystem; "
            f"pass a plain path or a file: URI"
        )
    return os.path.join(sf_dir, f"{name}.parquet")


def _input_bytes(sf_dir: str, name: str) -> int:
    p = _local_table_path(sf_dir, name)
    if os.path.isfile(p):
        return os.path.getsize(p)
    total = 0
    for dirpath, _dirs, files in os.walk(p):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _effective_scan_parallelism(sf_dir: str, name: str) -> int:
    """True unit count of scan parallelism for the table: number of
    data files for a directory, number of row groups for a single
    file (one cheap footer read). Spark's split count is NOT usable
    here — minPartitionNum inflates it with empty splits while the
    row group remains the real unit."""
    p = _local_table_path(sf_dir, name)
    if os.path.isdir(p):
        return sum(
            1
            for dirpath, _dirs, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(p).metadata.num_row_groups
    except Exception:
        return 1  # unreadable/odd layout: assume unsplittable


def spread_partitions(spark: SparkSession, input_bytes: int) -> int:
    """Round-robin fan-out width for CPU-heavy per-row pipelines:
    derived from the INPUT SIZE (one partition per
    ``SPREAD_TARGET_FILE_BYTES`` of compressed input), clamped to at
    most 3 waves per core (mirrors session.py's minPartitionNum
    rationale — fine-grained tasks absorb stragglers under host CPU
    steal). Never a constant: a 600 KB table fans out 3-way, a 6 MB
    table 24-way, anything huge caps at 3×cores."""
    cores = spark.sparkContext.defaultParallelism
    by_size = -(-max(1, input_bytes) // SPREAD_TARGET_FILE_BYTES)
    return max(2, min(cores * 3, by_size))


def load_table_spread(
    spark: SparkSession, sf_dir: str, name: str, min_bytes: int = 0
) -> DataFrame:
    """Load + round-robin repartition: the input-skew remedy for
    row-group-bound scans feeding expensive per-row work.

    The shared testdata writes each table as ONE parquet file with ONE
    row group (sf1 documents = 50k rows / 1 row group); Parquet splits
    at row-group granularity, so regardless of maxPartitionBytes /
    minPartitionNum the scan yields ONE non-empty task and every
    downstream map-side expression (md5 shingles, cosine folds, Python
    codec encodes) runs on a single core. Repartitioning right after
    the read (optimization-guide §2.5, "input skew ... otherwise
    repartition immediately after the read") moves only the scanned
    bytes once and unlocks the whole cluster for the per-row work.

    Use for pipelines whose pre-shuffle compute dominates (dedup
    shingling/hashing, vector math, Python-codec sinks). Plain
    aggregation/join queries keep `load_table`: their first exchange
    already redistributes, and an extra repartition would be a second
    shuffle for no new parallelism. Safe for results: every registry
    aggregate is order-independent by the oracle rules (exact decimal /
    integer sums, min/max of strings), so row-to-partition assignment
    cannot change any value.

    ``min_bytes``: below this compressed input size the plain load is
    returned (no repartition). Callers whose per-row work is only
    moderately expensive (vector folds — ~10× cheaper per byte than
    md5 shingling) set it so tiny inputs skip the exchange: measured
    at sf0.1 (0.8 MB embeddings) the spread cost ann_topk +0.2 s for
    no parallelism worth having, while at sf1 (5.9 MB) it wins 9.9 →
    4.1 s on kmeans.
    """
    b = _input_bytes(sf_dir, name)
    df = load_table(spark, sf_dir, name)
    if b < min_bytes:
        return df
    n = spread_partitions(spark, b)
    if _effective_scan_parallelism(sf_dir, name) >= n:
        # The input is already splittable into at least as many real
        # units (files / row groups) as the spread would create — on
        # production many-row-group data the repartition would be one
        # full extra shuffle for zero or NEGATIVE parallelism gain
        # (round-6 review finding). NB: Spark's split count cannot be
        # used for this check — minPartitionNum inflates it with empty
        # splits; row-group count is the true unit of scan parallelism.
        return df
    return df.repartition(n)
