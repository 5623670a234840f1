"""End-to-end CDC replay correctness vs the single-threaded oracle.

The north-rule correctness gate (SURVEY.md §5.2): synthesize a change
stream, replay it through the engine (batch and Structured Streaming
paths), and assert exact token-array equality per doc_id against an
independent pandas reducer — including out-of-order delivery,
duplicate (at-least-once) delivery, kill-and-resume from checkpoint,
and hot-key skew.
"""

from __future__ import annotations

import os

import pytest

from ml_data_pipeline_spark.cdc.apply import (
    apply_batch,
    create_docs_table,
    read_lineage,
    read_metrics,
)
from ml_data_pipeline_spark.cdc.events import generate_change_stream
from ml_data_pipeline_spark.cdc.oracle import (
    assert_state_equal,
    expected_state,
    load_events_pandas,
)
from ml_data_pipeline_spark.cdc.stream import run_replay
from ml_data_pipeline_spark.lake.compaction import SizeTieredPolicy
from ml_data_pipeline_spark.lake.table import LakeTable

N_DOCS, N_EVENTS = 300, 3000


def _gen(spark, tmp_path, **kw):
    ev_dir = str(tmp_path / "events")
    generate_change_stream(
        spark, ev_dir, N_DOCS, N_EVENTS, n_chunks=4, seed=42, **kw
    )
    return ev_dir


def _check(table, ev_dir):
    actual = table.read().toPandas()
    expected = expected_state(load_events_pandas(ev_dir))
    assert_state_equal(actual, expected)


def test_batch_replay_matches_oracle(spark, tmp_path):
    ev_dir = _gen(spark, tmp_path)
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    ev = spark.read.parquet(ev_dir)
    apply_batch(t, ev, batch_id=0)
    _check(t, ev_dir)


def test_streaming_replay_matches_oracle(spark, tmp_path):
    ev_dir = _gen(spark, tmp_path, shuffle_window=200, dup_fraction=0.05)
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    stats = run_replay(
        spark,
        t.root,
        ev_dir,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=3,
        # opt into the input_file_name() fallback scan: this test
        # asserts lineage rows carry input file names
        collect_input_lineage=True,
    )
    assert stats["batches"] >= 2  # really micro-batched
    _check(t, ev_dir)
    # metrics + lineage tables populated, one metrics row per batch
    m = read_metrics(t).toPandas()
    assert len(m) == stats["batches"] + stats["skipped"]
    li = read_lineage(t).toPandas()
    assert li["rows"].sum() > 0 and li["input_file"].notna().any()


def test_kill_and_resume_from_checkpoint(spark, tmp_path):
    ev_dir = _gen(spark, tmp_path, dup_fraction=0.03)
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    # Crash after 2 batches…
    run_replay(
        spark, t.root, ev_dir, ckpt, max_files_per_trigger=2, stop_after_batches=2
    )
    partial = LakeTable.load(spark, t.root).read().count()
    # …then resume with the same checkpoint. The killed batch is
    # re-delivered with the same batch_id → watermark no-op or clean
    # re-apply; final state must equal a clean single run.
    stats = run_replay(spark, t.root, ev_dir, ckpt, max_files_per_trigger=2)
    assert partial >= 0 and (stats["batches"] + stats["skipped"]) >= 1
    _check(t, ev_dir)


def test_hot_key_skew(spark, tmp_path):
    ev_dir = _gen(spark, tmp_path, hot_key_fraction=0.10)
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    run_replay(
        spark, t.root, ev_dir, str(tmp_path / "ckpt"), max_files_per_trigger=4
    )
    _check(t, ev_dir)


def test_replay_with_periodic_compaction(spark, tmp_path):
    ev_dir = _gen(spark, tmp_path)
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    stats = run_replay(
        spark, t.root, ev_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        compaction_policy=SizeTieredPolicy(max_delta_files=4),
    )
    assert stats["compactions"] >= 1
    _check(t, ev_dir)


def test_double_apply_batch_is_idempotent(spark, tmp_path):
    ev_dir = _gen(spark, tmp_path)
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    ev = spark.read.parquet(ev_dir)
    apply_batch(t, ev, batch_id=0)
    snap_before = t.snapshot.snapshot_id
    res = apply_batch(t, ev, batch_id=0)
    assert res["skipped"] and t.snapshot.snapshot_id == snap_before
    _check(t, ev_dir)


def test_advisory_tables_bounded_files_over_many_batches(spark, tmp_path):
    """50 micro-batches must NOT leave 50 one-row parquet files in the
    advisory metrics/lineage tables: the driver-side append folds them
    at ADVISORY_FOLD_AT, keeping the file count bounded no matter the
    replay length, with no rows lost."""
    from ml_data_pipeline_spark.cdc.apply import ADVISORY_FOLD_AT
    from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA

    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=2)
    for b in range(50):
        rows = [(b * 10 + i, "I", f"d{b}_{i}", [b, i], 2, "web", None)
                for i in range(3)]
        apply_batch(t, spark.createDataFrame(rows, CHANGE_SCHEMA), batch_id=b)
    for sub in ("metrics", "lineage"):
        files = [
            f
            for f in os.listdir(os.path.join(t.root, sub))
            if f.endswith(".parquet")
        ]
        assert len(files) < ADVISORY_FOLD_AT, (sub, len(files))
    m = read_metrics(t)
    assert m.count() == 50
    assert m.where("skipped").count() == 0
    assert read_lineage(t).select("batch_id").distinct().count() == 50


def test_advisory_fold_mixes_parts_without_the_event_counts(spark, tmp_path):
    """A metrics part written before ``events_in``/``events_invalid``
    joined ``METRICS_SCHEMA`` folds together with new parts: the fold
    reads every part under the current schema, the old row reads null
    counts, and the new rows carry each merge's counts."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ml_data_pipeline_spark.cdc.apply import ADVISORY_FOLD_AT
    from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA

    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=2)
    # A part in the layout of the nine columns before the counts.
    old = pa.table(
        {
            "stream_id": ["cdc"],
            "batch_id": pa.array([-1], pa.int64()),
            "snapshot_id": pa.array([0], pa.int64()),
            "skipped": [False],
            "upsert_rows": pa.array([0], pa.int64()),
            "n_buckets_touched": pa.array([0], pa.int32()),
            "schema_evolved": [False],
            "wall_ms": [1.0],
            "committed_at": pa.array(
                [datetime.datetime(2020, 1, 1)], pa.timestamp("us", tz="UTC")
            ),
        }
    )
    os.makedirs(os.path.join(t.root, "metrics"))
    pq.write_table(old, os.path.join(t.root, "metrics", "part-old.parquet"))
    for b in range(ADVISORY_FOLD_AT - 1):
        rows = [(b * 10 + i, "I", f"d{b}_{i}", [b, i], 2, "web", None) for i in range(3)]
        rows += [(b * 10 + 9, "X", "bad", [b], 1, "web", None)] * (b % 2)
        apply_batch(t, spark.createDataFrame(rows, CHANGE_SCHEMA), batch_id=b)
    files = os.listdir(os.path.join(t.root, "metrics"))
    assert [f for f in files if f.endswith(".parquet")] == [
        f for f in files if f.startswith("fold-")
    ]
    m = {r["batch_id"]: r for r in read_metrics(t).collect()}
    assert len(m) == ADVISORY_FOLD_AT
    assert (m[-1]["events_in"], m[-1]["events_invalid"]) == (None, None)
    for b in range(ADVISORY_FOLD_AT - 1):
        assert (m[b]["events_in"], m[b]["events_invalid"]) == (3 + b % 2, b % 2)
        assert m[b]["upsert_rows"] == 3


def test_advisory_fold_race_never_raises(tmp_path, monkeypatch):
    """Two processes sharing an advisory dir can race the fold; the
    loser hitting a file its rival already claimed (removed) must
    swallow the error — advisory work must never abort a streaming
    query after the data commit succeeded — and must not publish a
    double-counting fold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ml_data_pipeline_spark.cdc.apply import (
        ADVISORY_FOLD_AT,
        _advisory_append,
    )

    d = str(tmp_path / "metrics")
    os.makedirs(d)
    batch = pa.table({"x": [1]})
    for i in range(ADVISORY_FOLD_AT - 1):
        pq.write_table(batch, os.path.join(d, f"part-{i:04d}.parquet"))

    real_read = pq.read_table
    calls = {"n": 0}

    def flaky_read(path, **kw):
        calls["n"] += 1
        if calls["n"] == 3:  # rival claimed this part mid-fold
            raise FileNotFoundError(path)
        return real_read(path, **kw)

    monkeypatch.setattr(pq, "read_table", flaky_read)
    _advisory_append(d, batch)  # triggers the fold; must not raise
    files = os.listdir(d)
    assert not any(f.endswith(".tmp") for f in files)  # tmp cleaned up
    assert not any(f.startswith("fold-") for f in files)  # no fold published
    # parts survive minus none (abort happened before any removal)
    assert sum(f.endswith(".parquet") for f in files) == ADVISORY_FOLD_AT

    # and the same failure during REMOVAL also aborts unpublished
    monkeypatch.setattr(pq, "read_table", real_read)
    removed = {"n": 0}
    real_remove = os.remove

    def flaky_remove(path):
        removed["n"] += 1
        if removed["n"] == 2:
            raise FileNotFoundError(path)
        return real_remove(path)

    monkeypatch.setattr(os, "remove", flaky_remove)
    _advisory_append(d, batch)
    monkeypatch.setattr(os, "remove", real_remove)
    files = os.listdir(d)
    assert not any(f.startswith("fold-") for f in files)
    assert not any(f.endswith(".tmp") for f in files)


def test_replay_with_byte_denominated_batches(spark, tmp_path):
    """maxBytesPerTrigger (the memory-budget knob): batch admission by
    input bytes instead of file count — final state identical, and the
    tiny budget forces a multi-batch replay."""
    ev_dir = _gen(spark, tmp_path, shuffle_window=200)
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    stats = run_replay(
        spark,
        t.root,
        ev_dir,
        str(tmp_path / "ckpt"),
        max_bytes_per_trigger=30_000,
    )
    assert stats["batches"] > 1
    _check(t, ev_dir)


_MISMATCH = """
import sys
import pandas as pd
from ml_data_pipeline_spark.cdc.oracle import assert_state_equal

if __debug__:
    sys.exit("not running under python -O")
row = {"doc_id": "d1", "tokens": [1, 2], "n_tok": 2, "source": "web"}
expected = pd.DataFrame([row])
actual = {
    "missing_key": pd.DataFrame(columns=list(row)),
    "extra_key": pd.DataFrame([row, {**row, "doc_id": "d2"}]),
    "tokens": pd.DataFrame([{**row, "tokens": [1, 3]}]),
    "scalar": pd.DataFrame([{**row, "source": "books"}]),
}[sys.argv[1]]
assert_state_equal(actual, expected)
"""


@pytest.mark.parametrize("case", ["missing_key", "extra_key", "tokens", "scalar"])
def test_oracle_check_survives_python_O(tmp_path, case):
    """``assert_state_equal`` must still fail a mismatching state when
    asserts are stripped (``python -O``)."""
    import subprocess
    import sys

    script = tmp_path / "mismatch.py"
    script.write_text(_MISMATCH)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    proc = subprocess.run(
        [sys.executable, "-O", str(script), case],
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
    )
    assert proc.returncode != 0, proc.stdout
    assert "not running under python -O" not in proc.stderr
    assert "AssertionError" in proc.stderr, proc.stderr[-2000:]


def test_package_has_no_bare_asserts():
    """``python -O`` strips ``assert`` statements, so no check in the
    package may rest on one: raise explicitly instead."""
    import ast

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ml_data_pipeline_spark",
    )
    found = []
    for d, _, names in os.walk(pkg):
        for n in names:
            if n.endswith(".py"):
                path = os.path.join(d, n)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                found += [
                    f"{os.path.relpath(path, pkg)}:{node.lineno}"
                    for node in ast.walk(tree)
                    if isinstance(node, ast.Assert)
                ]
    assert not found, found
