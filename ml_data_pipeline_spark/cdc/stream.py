"""Structured Streaming replay runner: change-log tail → lake upserts.

The streaming form of the reference's ``Pipeline::run`` loop
(/root/reference/ml-data/ml-data-core/src/schedule.rs:150-235):
Spark's micro-batch scheduler is the loop, ``maxFilesPerTrigger`` is
the batch-size/backpressure knob (schedule.rs:33-42,174-184), the
checkpoint directory is the resumable-source contract
(source.rs:43 ``reset``; data_source.rs:17-29 ``seek``), and each
``foreachBatch`` invocation ends in an atomic snapshot commit.

Resumability: killing the query and restarting with the same
checkpoint replays only unprocessed files; a half-processed batch is
re-delivered with the same ``batch_id``, which the lake table's
watermark turns into a no-op → exactly-once.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from ml_data_pipeline_spark.cdc.apply import apply_batch
from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA
from ml_data_pipeline_spark.lake.table import LakeTable


def run_replay(
    spark: SparkSession,
    table_root: str,
    events_dir: str,
    checkpoint_dir: str,
    *,
    stream_id: str = "cdc",
    schema=None,
    max_files_per_trigger: int = 4,
    max_bytes_per_trigger: int | None = None,
    compaction_policy=None,
    vacuum_every_compactions: int | None = None,
    vacuum_keep_snapshots: int = 2,
    collect_input_lineage: bool = False,
    stop_after_batches: int | None = None,
    timeout_sec: float = 600.0,
) -> dict:
    """Replay the change-log directory into the lake table.

    ``stop_after_batches`` kills the query mid-replay (the
    kill-and-resume test hook); rerunning with the same checkpoint
    resumes and converges to the same final state.
    Every applied batch appends its ``<table>/metrics`` and
    ``<table>/lineage`` rows (see ``apply_batch``).
    ``compaction_policy`` (see lake.compaction.SizeTieredPolicy) is the
    replay's only compaction trigger: after each applied batch it
    selects the buckets whose delta tier warrants folding, and only
    those buckets are compacted; without a policy nothing is compacted.
    ``vacuum_every_compactions`` bounds on-disk garbage on a long
    replay: after every K-th compaction commit, files unreachable from
    the ``vacuum_keep_snapshots`` newest snapshots are deleted and
    older snapshot metadata expires (the retention knob — time travel
    is traded for disk, exactly like Iceberg's expire_snapshots).
    Returns {"batches": n_applied, "skipped": n_skipped,
    "compactions": n_compaction_commits, "vacuums": n_vacuum_runs,
    "vacuumed_files": n_files_deleted}. Raises ``TimeoutError`` if
    the replay does not terminate within ``timeout_sec`` (a hung query
    must not masquerade as a completed one).
    """
    schema = schema or CHANGE_SCHEMA
    table = LakeTable.load(spark, table_root)
    stats = {
        "batches": 0,
        "skipped": 0,
        "compactions": 0,
        "vacuums": 0,
        "vacuumed_files": 0,
        "apply_wall_s": 0.0,
    }

    def handle(batch_df, batch_id: int):
        t0 = time.monotonic()
        res = apply_batch(
            table,
            batch_df,
            batch_id,
            stream_id=stream_id,
            collect_input_lineage=collect_input_lineage,
        )
        # Steady-state accounting: the summed apply walls (scan →
        # resolve → write → commit → metrics/lineage append per batch)
        # are the pipeline's sustained-throughput denominator; trigger
        # setup/teardown around them amortizes to nothing at the
        # 10^10-event design point but dominates a seconds-long sandbox
        # replay. The wall is the whole call: the metrics row's own
        # ``wall_ms`` ends before its append.
        stats["apply_wall_s"] += time.monotonic() - t0
        if res.get("skipped"):
            stats["skipped"] += 1
        else:
            stats["batches"] += 1
            if compaction_policy is not None:
                victims = compaction_policy.select_buckets(table.snapshot)
                if victims:
                    table.compact(buckets=victims)
                    stats["compactions"] += 1
                    if (
                        vacuum_every_compactions
                        and stats["compactions"] % vacuum_every_compactions == 0
                    ):
                        res_v = table.vacuum(
                            keep_snapshots=vacuum_keep_snapshots
                        )
                        stats["vacuums"] += 1
                        stats["vacuumed_files"] += res_v["removed_files"]
        if (
            stop_after_batches is not None
            and stats["batches"] >= stop_after_batches
        ):
            raise _StopReplay()

    reader = spark.readStream.schema(schema)
    if max_bytes_per_trigger is not None:
        # Byte-denominated batch budget (the memory-budget knob, O5):
        # caps each micro-batch's INPUT bytes so per-batch working set
        # scales with cluster memory, not with whatever file count the
        # producer happened to cut. When set, it replaces the
        # file-count cap (Spark's file source honors one admission
        # limit per trigger; bytes is the principled one — binlog
        # files vary in size).
        reader = reader.option("maxBytesPerTrigger", int(max_bytes_per_trigger))
    else:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    run_available_now(reader, events_dir, checkpoint_dir, handle, timeout_sec)
    return stats


def run_available_now(
    reader, events_dir: str, checkpoint_dir: str, handle, timeout_sec: float
) -> None:
    """Replay the change-log directory ``events_dir`` through
    ``reader`` (a ``DataStreamReader`` holding the schema and admission
    limit) into ``handle(batch_df, batch_id)`` as one ``availableNow``
    query, until every file present at start is processed or
    ``handle`` raises ``_StopReplay``. Raises ``TimeoutError`` if the
    query does not terminate within ``timeout_sec``."""
    q = (
        # Binlog segments live in chunk=K/ subdirectories; recursive
        # lookup reads them without partition-column inference.
        reader.option("recursiveFileLookup", "true")
        .parquet(events_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    timed_out = False
    try:
        # awaitTermination(timeout) returns False on timeout WITHOUT
        # raising — a hung replay must not return partial stats that
        # look like a completed one.
        timed_out = not q.awaitTermination(timeout_sec)
    except Exception as e:  # noqa: BLE001 — surface real failures
        if not _is_stop(e):
            raise
    finally:
        if q.isActive:
            q.stop()
            q.awaitTermination(30)
    if timed_out:
        raise TimeoutError(
            f"replay of {events_dir} did not terminate within {timeout_sec}s"
        )


class _StopReplay(Exception):
    """Raised inside foreachBatch to simulate a mid-replay crash."""


def _is_stop(e: Exception) -> bool:
    s = str(e)
    return "_StopReplay" in s or isinstance(e, _StopReplay)
