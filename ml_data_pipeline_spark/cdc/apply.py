"""Per-micro-batch CDC apply: resolve → merge → commit → observe.

This is the engine's ``foreachBatch`` body — the analog of the
reference's pipeline loop body (source.next_batch → transform →
sink.consume, /root/reference/ml-data/ml-data-core/src/
schedule.rs:159-215) with the sink's ``flush`` becoming the lake
table's atomic snapshot commit, and the reference's ``PipelineStats``
(schedule.rs:46-67) becoming the ``_metrics`` / ``_lineage`` tables.
"""

from __future__ import annotations

import functools
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ml_data_pipeline_spark.cdc.events import DOC_SCHEMA
from ml_data_pipeline_spark.lake.table import LakeTable

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("batch_id", T.LongType(), True),
        T.StructField("snapshot_id", T.LongType(), True),
        T.StructField("skipped", T.BooleanType(), False),
        T.StructField("upsert_rows", T.LongType(), True),
        T.StructField("events_in", T.LongType(), True),
        T.StructField("events_invalid", T.LongType(), True),
        T.StructField("n_buckets_touched", T.IntegerType(), True),
        T.StructField("schema_evolved", T.BooleanType(), True),
        T.StructField("wall_ms", T.DoubleType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("batch_id", T.LongType(), True),
        T.StructField("snapshot_id", T.LongType(), True),
        T.StructField("input_file", T.StringType(), True),
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("output_file", T.StringType(), True),
        T.StructField("rows", T.LongType(), True),
    ]
)


def create_docs_table(
    spark: SparkSession, root: str, n_buckets: int = 16
) -> LakeTable:
    """Create the tokenized-sequence lake table (input_hint shape)."""
    return LakeTable.create(
        spark, root, DOC_SCHEMA, key_col="doc_id", n_buckets=n_buckets
    )


def apply_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: int | None = None,
    *,
    stream_id: str = "cdc",
    collect_input_lineage: bool = False,
) -> dict:
    """Apply one micro-batch of change events; record metrics + lineage.

    Idempotent: a replayed ``batch_id`` (streaming restart re-delivers
    the last uncommitted batch) is skipped via the snapshot's per-stream
    watermark, so the sink is exactly-once end-to-end. Every call, a
    skipped one too, appends one ``<table>/metrics`` row; an applied
    batch also appends one ``<table>/lineage`` row per (written file,
    input file) pair.

    Input files come from the metadata-only ``inputFiles()`` call. A
    frame read straight from files reports them; a Structured
    Streaming ``foreachBatch`` frame reports none (PySpark 4.1), so a
    streaming replay's lineage rows carry a null ``input_file``.
    ``collect_input_lineage`` opts into the fallback that recovers the
    names with an extra ``input_file_name()`` scan when ``inputFiles()``
    comes back empty. It is OFF by default because that fallback
    re-reads the whole micro-batch input — roughly doubling input IO
    per batch — for advisory lineage rows only.
    """
    t0 = time.monotonic()
    try:
        input_files = list(batch_df.inputFiles())
        if not input_files and collect_input_lineage:
            input_files = [
                r[0]
                for r in batch_df.select(F.input_file_name()).distinct().collect()
                if r[0]
            ]
    except Exception:
        input_files = []
    res = table.merge_batch(batch_df, batch_id=batch_id, stream_id=stream_id)
    wall_ms = (time.monotonic() - t0) * 1000.0
    res["wall_ms"] = wall_ms
    res["input_files"] = input_files
    _record(table, res)
    return res


# Fold the advisory tables whenever they accumulate this many small
# per-batch files. A 10^10-event replay is ~10^6 micro-batches; without
# folding, metrics/ and lineage/ would hold a million 1-row parquet
# files (driver listing + scan death). With folding the file count is
# bounded at ADVISORY_FOLD_AT regardless of replay length.
ADVISORY_FOLD_AT = 16


@functools.cache
def _pa_schemas():
    """The advisory tables' pyarrow schemas, derived from the Spark ones.
    Every field is nullable, as in the parts already written: a fold
    reads old and new parts under one schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return tuple(
        pa.schema([f.with_nullable(True) for f in to_arrow_schema(s)])
        for s in (METRICS_SCHEMA, LINEAGE_SCHEMA)
    )


def _advisory_append(dir_path: str, batch) -> None:
    """Driver-side append of a tiny advisory row-batch + bounded fold.

    These are per-batch bookkeeping rows: launching a Spark job to
    write one row would cost ~100 ms of driver/scheduler time per
    micro-batch (pure Amdahl overhead), so they are written directly
    with pyarrow. When the directory reaches ADVISORY_FOLD_AT files,
    they are folded into one (single-writer tables — the streaming
    driver — so the fold races no other writer; a concurrent advisory
    READ during the fold may transiently double-count, which is the
    documented trade for not gating the data path).
    """
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(
        batch, os.path.join(dir_path, f"part-{_uuid.uuid4().hex}.parquet")
    )
    files = sorted(
        f for f in os.listdir(dir_path) if f.endswith(".parquet")
    )
    if len(files) >= ADVISORY_FOLD_AT:
        # Concurrent multi-process writers can share this directory
        # (test_multiwriter_process); two folds racing must neither
        # crash the stream (advisory work must not gate exactly-once)
        # nor double-count. Removal acts as the claim: parts are
        # removed BEFORE the fold is published, so a racer hits
        # FileNotFoundError on a file its rival claimed and aborts
        # without publishing — the race can LOSE advisory rows
        # (consistent with the documented "a crash loses one metrics
        # row, never a data commit" stance) but can never fold the
        # same part twice.
        tmp = os.path.join(dir_path, f".fold-{_uuid.uuid4().hex}.tmp")
        try:
            tables = [
                pq.read_table(os.path.join(dir_path, f), schema=batch.schema)
                for f in files
            ]
            pq.write_table(pa.concat_tables(tables), tmp)
            for f in files:
                os.remove(os.path.join(dir_path, f))
            os.replace(
                tmp,
                os.path.join(dir_path, f"fold-{_uuid.uuid4().hex}.parquet"),
            )
        except (OSError, pa.ArrowInvalid):
            try:
                os.remove(tmp)
            except OSError:
                pass


def _record(table: LakeTable, res: dict) -> None:
    """Append metrics + per-partition lineage rows (advisory tables).

    Written *after* the snapshot commit: a crash in between loses one
    metrics row, never a data commit — metrics must not gate
    exactly-once.
    """
    import datetime

    import pyarrow as pa

    mschema, lschema = _pa_schemas()
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    mrow = {
        "stream_id": [res["stream_id"]],
        "batch_id": [res.get("batch_id")],
        "snapshot_id": [res.get("snapshot_id")],
        "skipped": [bool(res.get("skipped"))],
        "upsert_rows": [res.get("upsert_rows")],
        "events_in": [res.get("events_in")],
        "events_invalid": [res.get("events_invalid")],
        "n_buckets_touched": [len(res.get("touched_buckets") or [])],
        "schema_evolved": [bool(res.get("schema_evolved"))],
        "wall_ms": [float(res.get("wall_ms", 0.0))],
        "committed_at": [now],
    }
    _advisory_append(
        os.path.join(table.root, "metrics"),
        pa.Table.from_pydict(mrow, schema=mschema),
    )

    if res.get("skipped"):
        return
    # Files created by this commit, reported by the merge itself (no
    # snapshot-history scan — that would be O(batches) per batch).
    created = res.get("new_files") or []
    lrows = []
    inputs = res.get("input_files") or [None]
    for f in created:
        for inp in inputs:
            lrows.append(
                (
                    res["stream_id"],
                    res.get("batch_id"),
                    res.get("snapshot_id"),
                    inp,
                    f["bucket"],
                    f["path"],
                    f["rows"],
                )
            )
    if lrows:
        cols = list(zip(*lrows))
        ltab = pa.Table.from_pydict(
            {name: list(col) for name, col in zip(lschema.names, cols)},
            schema=lschema,
        )
        _advisory_append(os.path.join(table.root, "lineage"), ltab)


def read_metrics(table: LakeTable) -> DataFrame:
    return table.spark.read.schema(METRICS_SCHEMA).parquet(
        os.path.join(table.root, "metrics")
    )


def read_lineage(table: LakeTable) -> DataFrame:
    return table.spark.read.schema(LINEAGE_SCHEMA).parquet(
        os.path.join(table.root, "lineage")
    )
