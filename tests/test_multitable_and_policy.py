"""Multi-table demux replay, size-tiered compaction policy, and
parquet writer-knob table properties."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ml_data_pipeline_spark.cdc.apply import create_docs_table, read_metrics
from ml_data_pipeline_spark.cdc.events import (
    DOC_SCHEMA,
    change_events_df,
    generate_change_stream,
)
from ml_data_pipeline_spark.cdc.multitable import run_multi_table_replay
from ml_data_pipeline_spark.cdc.oracle import (
    assert_state_equal,
    expected_state,
    load_events_pandas,
)
from ml_data_pipeline_spark.cdc.stream import run_replay
from ml_data_pipeline_spark.lake.compaction import SizeTieredPolicy
from ml_data_pipeline_spark.lake.table import LakeTable


def test_multi_table_demux_replay(spark, tmp_path):
    """One changelog carrying two tables' events → two lake tables,
    each matching its own independent oracle reduction."""
    ev_dir = str(tmp_path / "events")
    a = change_events_df(spark, 60, 900, seed=1).withColumn(
        "table", F.lit("alpha")
    )
    b = change_events_df(spark, 40, 600, seed=2).withColumn(
        "table", F.lit("beta")
    )
    a.unionByName(b).repartition(6).write.parquet(ev_dir)

    roots = {
        "alpha": str(tmp_path / "t_alpha"),
        "beta": str(tmp_path / "t_beta"),
    }
    for root in roots.values():
        create_docs_table(spark, root, n_buckets=4)
    stats = run_multi_table_replay(
        spark,
        roots,
        ev_dir,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    assert stats["batches"] >= 2
    assert stats["applied"]["alpha"] == stats["batches"]

    events = load_events_pandas(ev_dir)
    for name, root in roots.items():
        got = LakeTable.load(spark, root).read().toPandas()
        want = expected_state(
            events[events["table"] == name].drop(columns=["table"])
        )
        assert_state_equal(got, want)

    # Restart redelivery with a fresh checkpoint: every batch must be
    # skipped per-table by its own watermark (exactly-once per table).
    stats2 = run_multi_table_replay(
        spark, roots, ev_dir, str(tmp_path / "ckpt2"), max_files_per_trigger=8
    )
    assert stats2["applied"] == {"alpha": 0, "beta": 0}
    for name, root in roots.items():
        got = LakeTable.load(spark, root).read().toPandas()
        want = expected_state(
            events[events["table"] == name].drop(columns=["table"])
        )
        assert_state_equal(got, want)


def test_every_applied_batch_records_metrics(spark, tmp_path):
    """Both replay loops, with default arguments, append one
    ``<table>/metrics`` row per applied batch."""
    ev_dir = str(tmp_path / "events")
    generate_change_stream(spark, ev_dir, 60, 600, n_chunks=2, seed=9)
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    stats = run_replay(spark, t.root, ev_dir, str(tmp_path / "ckpt"))
    m = read_metrics(t).toPandas()
    assert stats["batches"] >= 1 and stats["skipped"] == 0
    assert len(m) == stats["batches"]
    assert sorted(m["batch_id"]) == list(range(stats["batches"]))
    assert not m["skipped"].any()

    multi_dir = str(tmp_path / "multi")
    change_events_df(spark, 40, 400, seed=3).withColumn(
        "table", F.lit("alpha")
    ).repartition(12).write.parquet(multi_dir)
    root = str(tmp_path / "t_alpha")
    create_docs_table(spark, root, n_buckets=4)
    mstats = run_multi_table_replay(
        spark, {"alpha": root}, multi_dir, str(tmp_path / "ckpt_multi")
    )
    m = read_metrics(LakeTable.load(spark, root)).toPandas()
    assert mstats["batches"] >= 2
    assert len(m) == mstats["applied"]["alpha"] == mstats["batches"]
    assert set(m["stream_id"]) == {"cdc:alpha"}


def test_size_tiered_policy_selection():
    """Unit: policy picks buckets by delta count or delta/base ratio."""
    from ml_data_pipeline_spark.lake.table import FileEntry, Snapshot

    snap = Snapshot(
        snapshot_id=1,
        parent_id=0,
        schema_json=DOC_SCHEMA.jsonValue(),
        key_col="doc_id",
        n_buckets=4,
        files=[
            # bucket 0: too many delta files → selected
            *[
                FileEntry(f"d0-{i}", 0, "delta", 10, "fp", bytes=100)
                for i in range(8)
            ],
            # bucket 1: 2 deltas but big relative to base → selected
            FileEntry("b1", 1, "base", 100, "fp", bytes=4 << 20),
            FileEntry("d1a", 1, "delta", 50, "fp", bytes=1 << 20),
            FileEntry("d1b", 1, "delta", 50, "fp", bytes=1 << 20),
            # bucket 2: sliver delta on a big base → NOT selected
            FileEntry("b2", 2, "base", 1000, "fp", bytes=64 << 20),
            FileEntry("d2", 2, "delta", 1, "fp", bytes=1024),
            # bucket 3: clean → NOT selected
            FileEntry("b3", 3, "base", 100, "fp", bytes=1 << 20),
        ],
    )
    policy = SizeTieredPolicy(
        max_delta_files=8, min_delta_base_ratio=0.25, min_delta_bytes=1 << 20
    )
    assert policy.select_buckets(snap) == [0, 1]


def test_replay_with_size_tiered_policy(spark, tmp_path):
    """End-to-end: policy-driven per-bucket compaction during replay
    keeps delta counts bounded and the final state exact."""
    ev_dir = str(tmp_path / "events")
    generate_change_stream(
        spark, ev_dir, 120, 2000, n_chunks=6, seed=5, shuffle_window=150
    )
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    policy = SizeTieredPolicy(
        max_delta_files=3, min_delta_base_ratio=0.25, min_delta_bytes=1
    )
    stats = run_replay(
        spark,
        t.root,
        ev_dir,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        compaction_policy=policy,
    )
    assert stats["compactions"] >= 1
    t.refresh()
    # policy keeps every bucket's delta tier under the file bound
    per_bucket: dict[int, int] = {}
    for f in t.snapshot.files:
        if f.kind == "delta":
            per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert all(n < 3 + 2 for n in per_bucket.values())
    # compaction commits recorded per-bucket (subset, not whole table)
    ops = [s.summary for s in t.history() if s.summary.get("operation") == "compact"]
    assert ops and all(len(o["buckets"]) <= 4 for o in ops)
    got = t.read().toPandas()
    want = expected_state(load_events_pandas(ev_dir))
    assert_state_equal(got, want)


def test_replay_with_vacuum_retention(spark, tmp_path):
    """Policy-driven compaction + periodic vacuum during replay:
    superseded files are deleted, snapshot metadata expires to the
    retention window, and the final state stays exact."""
    ev_dir = str(tmp_path / "events")
    generate_change_stream(
        spark, ev_dir, 120, 2000, n_chunks=6, seed=13, shuffle_window=150
    )
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    stats = run_replay(
        spark,
        t.root,
        ev_dir,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        compaction_policy=SizeTieredPolicy(
            max_delta_files=2, min_delta_base_ratio=0.25, min_delta_bytes=1
        ),
        vacuum_every_compactions=2,
        vacuum_keep_snapshots=2,
    )
    assert stats["vacuums"] >= 1 and stats["vacuumed_files"] > 0
    t.refresh()
    # retention: only the newest snapshots' metadata survives each
    # vacuum (later commits may add more on top)
    ids = [s.snapshot_id for s in t.history()]
    assert ids[0] > 0  # snapshot-0 expired
    got = t.read().toPandas()
    want = expected_state(load_events_pandas(ev_dir))
    assert_state_equal(got, want)


def test_parquet_writer_knobs(spark, tmp_path):
    """Table properties surface the reference's parquet writer knobs
    (writer.rs:37-56): row-group size and dictionary toggle must be
    visible in the written files' footers; bloom filter offsets appear
    when the pyarrow build exposes them."""
    root_a = str(tmp_path / "knobs_a")
    t = LakeTable.create(
        spark,
        root_a,
        DOC_SCHEMA,
        key_col="doc_id",
        n_buckets=1,
        properties={
            "parquet.block.size": str(16 * 1024),  # tiny row groups
            "parquet.enable.dictionary": "false",
            "parquet.bloom.filter.enabled#doc_id": "true",
        },
    )
    ev = change_events_df(spark, 500, 3000, seed=9)
    t.merge_batch(ev, batch_id=0)
    files = [f for f in t.snapshot.files]
    assert files
    md = pq.ParquetFile(os.path.join(t.root, files[0].path)).metadata

    def _col(meta, name):
        rg = meta.row_group(0)
        for i in range(meta.num_columns):
            if rg.column(i).path_in_schema == name:
                return rg.column(i)
        raise AssertionError(name)

    assert md.num_row_groups > 1  # block.size honored
    # dictionary disabled: the low-cardinality column must NOT use it
    src = _col(md, "source")
    assert "PLAIN_DICTIONARY" not in src.encodings
    assert "RLE_DICTIONARY" not in src.encodings
    doc = _col(md, "doc_id")
    if hasattr(doc, "bloom_filter_offset"):
        assert doc.bloom_filter_offset is not None

    # control table: defaults → dictionary encoding present, 1 row group
    root_b = str(tmp_path / "knobs_b")
    t2 = LakeTable.create(spark, root_b, DOC_SCHEMA, key_col="doc_id", n_buckets=1)
    t2.merge_batch(ev, batch_id=0)
    md2 = pq.ParquetFile(
        os.path.join(t2.root, t2.snapshot.files[0].path)
    ).metadata
    enc2 = _col(md2, "source").encodings
    assert "PLAIN_DICTIONARY" in enc2 or "RLE_DICTIONARY" in enc2
    # knob tables must still read identically
    assert (
        t.read().orderBy("doc_id").toPandas()["doc_id"].tolist()
        == t2.read().orderBy("doc_id").toPandas()["doc_id"].tolist()
    )
