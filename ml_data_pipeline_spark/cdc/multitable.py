"""Multi-table CDC: one changelog stream demuxed into N lake tables.

Real binlogs carry every table's changes interleaved in one ordered
stream (the reference's pipeline reads one source into one sink,
schedule.rs:159-215; a production CDC tail fans out). This module
replays a single change-log directory whose events carry a ``table``
column into one LakeTable per table name, inside ONE Structured
Streaming query:

* one micro-batch scan feeds every table (the input is read once per
  batch, not once per table — ``persist`` pins it across the N filters);
* each table keeps its own exactly-once watermark under its own
  ``stream_id`` suffix, so a restart redelivery is skipped per table
  independently (a crash after committing table A but before table B
  re-applies only B);
* per-table merges are ordinary ``merge_batch`` calls — bucket
  pruning, map-side combine, schema evolution all apply per table.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql import types as T

from ml_data_pipeline_spark.cdc.apply import apply_batch
from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA
from ml_data_pipeline_spark.cdc.stream import run_available_now
from ml_data_pipeline_spark.lake.table import LakeTable

MULTI_CHANGE_SCHEMA = T.StructType(
    [T.StructField("table", T.StringType(), False)] + list(CHANGE_SCHEMA.fields)
)


def run_multi_table_replay(
    spark: SparkSession,
    table_roots: dict[str, str],
    events_dir: str,
    checkpoint_dir: str,
    *,
    stream_id: str = "cdc",
    schema: T.StructType | None = None,
    max_files_per_trigger: int = 8,
    timeout_sec: float = 600.0,
) -> dict:
    """Replay a multi-table changelog into ``table_roots`` (name→root).

    Each table records a ``<table>/metrics`` row per micro-batch under
    its own ``stream_id`` (see ``apply_batch``).
    Returns {"batches": n, "applied": {table: n_applied}}.
    """
    schema = schema or MULTI_CHANGE_SCHEMA
    tables = {
        name: LakeTable.load(spark, root) for name, root in table_roots.items()
    }
    stats = {"batches": 0, "applied": {name: 0 for name in tables}}

    def handle(batch_df, batch_id: int):
        stats["batches"] += 1
        # One pass over the input feeds every table's filter.
        batch_df = batch_df.persist()
        try:
            for name, table in tables.items():
                part = batch_df.where(F.col("table") == name).drop("table")
                res = apply_batch(
                    table,
                    part,
                    batch_id,
                    stream_id=f"{stream_id}:{name}",
                )
                if not res.get("skipped"):
                    stats["applied"][name] += 1
        finally:
            batch_df.unpersist()

    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    run_available_now(reader, events_dir, checkpoint_dir, handle, timeout_sec)
    return stats
