"""Combined-hazard CDC stress test: one replay with out-of-order
delivery + duplicate (at-least-once) delivery + hot-key skew + schema
evolution mid-stream + kill-and-resume + periodic compaction — every
failure mode at once, against the independent oracle."""

from __future__ import annotations

from pyspark.sql import types as T

from ml_data_pipeline_spark.cdc.apply import create_docs_table, read_metrics
from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA, generate_change_stream
from ml_data_pipeline_spark.cdc.oracle import (
    assert_state_equal,
    expected_state,
    load_events_pandas,
)
from ml_data_pipeline_spark.cdc.stream import run_replay
from ml_data_pipeline_spark.lake.compaction import SizeTieredPolicy
from ml_data_pipeline_spark.lake.table import LakeTable


def test_everything_at_once(spark, tmp_path):
    ev_dir = str(tmp_path / "events")
    # epoch 1: v1 schema, skewed, out-of-order, duplicated
    generate_change_stream(
        spark, ev_dir, 250, 2500, n_chunks=3, seed=42,
        hot_key_fraction=0.15, dup_fraction=0.05, shuffle_window=400,
    )
    # epoch 2: adds `lang`, continues the LSN space
    generate_change_stream(
        spark, ev_dir, 250, 1500, n_chunks=2, seed=43, extra_cols=True,
        seq_start=2500, dup_fraction=0.05, shuffle_window=200,
    )
    v2 = T.StructType(
        CHANGE_SCHEMA.fields + [T.StructField("lang", T.StringType(), True)]
    )
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    # crash after 2 batches, then resume; compaction mid-run
    first = run_replay(
        spark, t.root, ev_dir, ckpt,
        schema=v2, max_files_per_trigger=3,
        compaction_policy=SizeTieredPolicy(max_delta_files=2),
        stop_after_batches=2,
    )
    stats = run_replay(
        spark, t.root, ev_dir, ckpt,
        schema=v2, max_files_per_trigger=3,
        compaction_policy=SizeTieredPolicy(max_delta_files=2),
    )
    assert stats["batches"] + stats["skipped"] >= 1
    assert first["compactions"] + stats["compactions"] >= 1
    t.refresh()
    assert "lang" in t.schema.fieldNames()
    expected = expected_state(load_events_pandas(ev_dir))
    assert_state_equal(
        t.read().toPandas(), expected, extra_cols=("n_tok", "source", "lang")
    )
    # metrics recorded for every applied batch across both runs
    m = read_metrics(t).toPandas()
    assert len(m) >= stats["batches"] + 2
    # final vacuum keeps state intact
    t.vacuum(keep_snapshots=1)
    assert_state_equal(
        t.read().toPandas(), expected, extra_cols=("n_tok", "source", "lang")
    )
