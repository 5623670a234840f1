"""Incremental changes feed (Iceberg incremental-read analog) and
bucket-pruned point lookup."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from ml_data_pipeline_spark.cdc.apply import create_docs_table
from ml_data_pipeline_spark.cdc.events import DOC_SCHEMA, change_events_df
from ml_data_pipeline_spark.cdc.oracle import expected_state
from ml_data_pipeline_spark.lake import table as table_mod
from ml_data_pipeline_spark.lake.table import LakeTable


def _tok(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    return tuple(int(x) for x in list(v))


def _state_map(pdf):
    return {r["doc_id"]: _tok(r["tokens"]) for _, r in pdf.iterrows()}


def _oracle_diff(ev0_pdf, ev01_pdf):
    """Expected net changes between the two event prefixes: keys whose
    live state differs; op D when the key disappears."""
    s0 = _state_map(expected_state(ev0_pdf))
    s1 = _state_map(expected_state(ev01_pdf))
    out = {}
    for k in set(s0) | set(s1):
        a, b = s0.get(k, "<absent>"), s1.get(k, "<absent>")
        if a != b:
            out[k] = ("D", None) if k not in s1 else ("U", s1[k])
    return out


def test_changes_feed_matches_state_diff(spark, tmp_path):
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    ev0 = change_events_df(spark, 60, 800, seed=31)
    ev1 = change_events_df(spark, 60, 800, seed=31, seq_start=800)
    t.merge_batch(ev0, batch_id=0)
    snap_a = t.snapshot.snapshot_id
    # mid-window compaction must not produce false changes
    t.compact()
    t.merge_batch(ev1, batch_id=1)

    rows = t.changes(snap_a).collect()
    got = {r["doc_id"]: (r["op"], _tok(r["tokens"])) for r in rows}
    want = _oracle_diff(ev0.toPandas(), ev0.unionByName(ev1).toPandas())
    assert set(got) == set(want), (
        f"missing={sorted(set(want) - set(got))[:5]} "
        f"extra={sorted(set(got) - set(want))[:5]}"
    )
    for k, (op, tok) in want.items():
        assert got[k][0] == op, (k, got[k], op)
        if op == "U":
            assert got[k][1] == tok, k
    # _old_tokens is the key's state at the base: null for a key new
    # in the window (or deleted at the base)
    base = _state_map(expected_state(ev0.toPandas()))
    olds = {r["doc_id"]: _tok(r["_old_tokens"]) for r in rows}
    assert any(k in base for k in olds) and any(k not in base for k in olds)
    for k, old in olds.items():
        assert old == base.get(k), (k, old, base.get(k))
    # feed of an unchanged window is empty
    assert t.changes(t.snapshot.snapshot_id).count() == 0


def _plan_nodes(plan: str) -> list[str]:
    """The operator names of a plan's tree string, one per node."""
    return [re.sub(r"^[\s:+\-]*", "", line).split(" ")[0] for line in plan.splitlines()]


@pytest.mark.parametrize("patch", [False, True])
def test_changes_feed_scans_only_new_and_touched(spark, tmp_path, patch, monkeypatch):
    """O(new data) contract: the changelog plan reads only files added
    since the base snapshot plus the touched buckets' base files —
    never the whole table — and each of those base files once. Base
    and window rows meet in one aggregate: one exchange, no join. (The
    driver bound is 0, so the window is the Spark plan.)"""
    monkeypatch.setattr(table_mod, "DRIVER_WRITE_MAX_BYTES", 0)
    t = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        DOC_SCHEMA,
        key_col="doc_id",
        n_buckets=8,
        properties={"patch.enabled": "true"} if patch else None,
    )
    ev0 = change_events_df(spark, 200, 2000, seed=9)
    t.merge_batch(ev0, batch_id=0)
    snap_a = t.snapshot.snapshot_id
    # second batch touching few keys → few buckets
    ev1 = change_events_df(spark, 3, 30, seed=10, seq_start=5000)
    t.merge_batch(ev1, batch_id=1)
    added = [
        f for f in t.snapshot.files
        if f.path not in {x.path for x in t.snapshot_by_id(snap_a).files}
    ]
    touched = {f.bucket for f in added}
    assert len(touched) < 8  # really pruned
    # list every path of a scan in the plan string (default: truncated)
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "1000000")
    try:
        plan = t.changes(snap_a)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    base = t.snapshot_by_id(snap_a).files
    for f in base:
        # no untouched-bucket base file appears in the scan plan; each
        # touched one appears in exactly one scan
        want = 1 if f.bucket in touched else 0
        assert plan.count(f.path) == want, (f.path, plan)
    nodes = _plan_nodes(plan)
    assert nodes.count("FileScan") == 2, plan
    assert not [n for n in nodes if "Join" in n], plan
    assert len([n for n in nodes if n.endswith("Exchange")]) == 1, plan


def test_driver_window_reads_only_new_and_touched(spark, tmp_path, monkeypatch):
    """The O(new data) contract on the driver path: a small window of a
    plain table reads exactly the files added since the base snapshot plus
    the touched buckets' base files, each once, starts no Spark job, and
    equals the Spark window."""
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    t.merge_batch(change_events_df(spark, 200, 2000, seed=9), batch_id=0)
    snap_a = t.snapshot.snapshot_id
    t.merge_batch(change_events_df(spark, 3, 30, seed=10, seq_start=5000), batch_id=1)
    base = t.snapshot_by_id(snap_a).files
    added = [f for f in t.snapshot.files if f.path not in {x.path for x in base}]
    touched = {f.bucket for f in added}
    assert len(touched) < 8  # really pruned
    read, read_arrow = [], t._read_arrow

    def spy(files, snap, **kw):
        read.extend(f.path for f in files)
        return read_arrow(files, snap, **kw)

    monkeypatch.setattr(t, "_read_arrow", spy)
    sc = spark.sparkContext
    jobs = sc.statusTracker().getJobIdsForGroup(None)
    rows = t.changes(snap_a)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(None) == jobs
    assert rows.isLocal()
    want = [f.path for f in added] + [f.path for f in base if f.bucket in touched]
    assert sorted(read) == sorted(want)
    with monkeypatch.context() as m:
        m.setattr(table_mod, "DRIVER_WRITE_MAX_BYTES", 0)
        lazy = t.changes(snap_a)
    assert not lazy.isLocal() and rows.schema == lazy.schema
    assert sorted(map(tuple, rows.collect())) == sorted(map(tuple, lazy.collect()))


def test_poll_window_pinned_to_reported_target(spark, tmp_path):
    """poll() must deliver EXACTLY the window ending at the snapshot id
    it reports: a commit landing between poll's refresh and the
    changes() scan must not widen the delivered window past the
    recorded cursor (the round-3 double-refresh bug)."""
    from ml_data_pipeline_spark.lake.feed import ChangesFeed

    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    ev0 = change_events_df(spark, 40, 400, seed=5)
    t.merge_batch(ev0, batch_id=0)
    head_snap = t.refresh()

    # A rival handle commits AFTER our refresh; pinning the window to
    # the refreshed snapshot must exclude the rival's rows.
    rival = LakeTable.load(spark, t.root)
    # (ev0.schema order is seq, doc_id, op, …)
    ev1 = spark.createDataFrame(
        [(10_000, "zz-late", "I", [7, 7], 2, "web", None)],
        ev0.schema,
    )
    rival.merge_batch(ev1, batch_id=1)

    window = t.changes(0, until_snap=head_snap)
    docs = {r["doc_id"] for r in window.collect()}
    assert "zz-late" not in docs
    want = {r["doc_id"] for _, r in expected_state(ev0.toPandas()).iterrows()}
    assert docs == want

    # and the feed's poll/target pair is consistent end-to-end: a poll
    # against the pre-rival cursor reports the CURRENT head and
    # includes the rival's doc exactly once
    feed = ChangesFeed(t, str(tmp_path / "cursor.json"))
    df, target = feed.poll()
    assert target == t.refresh().snapshot_id
    assert "zz-late" in {r["doc_id"] for r in df.collect()}


def test_bootstrap_lagging_consumer_lifecycle(spark, tmp_path):
    """Full consumer-recovery lifecycle: a cursor expired by vacuum →
    poll raises with the re-bootstrap contract → bootstrap into a
    fresh dest reproduces the source exactly and resumes incremental
    pumping (including deletes); a non-empty dest is refused; a
    crashed pump (merge durable, cursor commit lost) is repaired
    without rewriting data."""
    from ml_data_pipeline_spark.lake.feed import ChangesFeed

    src = create_docs_table(spark, str(tmp_path / "src"), n_buckets=4)
    ev0 = change_events_df(spark, 50, 600, seed=21)
    src.merge_batch(ev0, batch_id=0)
    ev1 = change_events_df(spark, 50, 600, seed=22, seq_start=600)
    src.merge_batch(ev1, batch_id=1)
    src.compact()
    src.vacuum(keep_snapshots=1, orphan_grace_sec=0.0)

    feed = ChangesFeed(src, str(tmp_path / "cursor.json"))
    with pytest.raises(ValueError, match="re-bootstrap"):
        feed.poll()

    dest = create_docs_table(spark, str(tmp_path / "dest"), n_buckets=2)
    out = feed.bootstrap(dest)
    assert out["bootstrapped"] and out["cursor"] == src.snapshot.snapshot_id

    def _state(t):
        return {
            r["doc_id"]: (tuple(r["tokens"] or []), r["source"])
            for r in t.read().collect()
        }

    assert _state(dest) == _state(src)

    # incremental resume, including a delete
    some_doc = sorted(_state(src))[0]
    src.merge_batch(
        spark.createDataFrame(
            [(99_999, some_doc, "D", None, None, None, None)], ev0.schema
        ),
        batch_id=2,
    )
    assert feed.pump_all(dest) == 1
    assert _state(dest) == _state(src)
    assert some_doc not in _state(dest)

    # refuse to bootstrap over live data
    with pytest.raises(ValueError, match="EMPTY destination"):
        feed.bootstrap(dest)

    # crash repair: pump applied its merge but the cursor commit was
    # lost — bootstrap() must advance the cursor, not rewrite data
    src.merge_batch(
        spark.createDataFrame(
            [(100_000, "fresh-doc", "I", [1, 2], 2, "web", None)],
            ev0.schema,
        ),
        batch_id=3,
    )
    assert feed.pump_all(dest) == 1
    committed = feed.cursor
    feed.commit(committed - 1)  # simulate the lost cursor commit
    rec = feed.bootstrap(dest)
    assert rec["recovered"] and not rec["bootstrapped"]
    assert feed.cursor == committed
    assert _state(dest) == _state(src)
    # and the feed is drained — nothing re-delivered
    df, target = feed.poll()
    assert df is None and target == committed


def test_changes_feed_patch_table(spark, tmp_path):
    """Patch overlays move a key's change version: a patch-only window
    emits the key's NEW merged full state."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "tblp"),
        DOC_SCHEMA,
        key_col="doc_id",
        n_buckets=4,
        properties={"patch.enabled": "true"},
    )
    ev0 = change_events_df(spark, 40, 400, seed=3)
    t.merge_batch(ev0, batch_id=0)
    snap_a = t.snapshot.snapshot_id
    # window: pure patches on source only (tokens untouched)
    patches = (
        change_events_df(spark, 40, 60, seed=4, seq_start=400)
        .where(F.col("op") != "D")
        .withColumn("op", F.lit("P"))
        .withColumn("tokens", F.lit(None).cast("array<int>"))
        .withColumn("n_tok", F.lit(None).cast("int"))
        .withColumn("source", F.lit("patched"))
    )
    n_keys = patches.select("doc_id").distinct().count()
    t.merge_batch(patches, batch_id=1)
    ch = t.changes(snap_a).collect()
    # only keys that exist at base AND got patched appear
    base_keys = {
        r["doc_id"]
        for r in t.read(as_of_snapshot=snap_a).select("doc_id").collect()
    }
    patched_keys = {
        r["doc_id"] for r in patches.select("doc_id").distinct().collect()
    }
    assert {r["doc_id"] for r in ch} == (patched_keys & base_keys)
    assert n_keys > 0 and all(r["op"] == "U" for r in ch)
    # emitted rows carry the MERGED state: patched source, base tokens
    full = {r["doc_id"]: r for r in t.read().collect()}
    old = {
        r["doc_id"]: r["source"]
        for r in t.read(as_of_snapshot=snap_a).collect()
    }
    for r in ch:
        assert r["source"] == "patched"
        assert _tok(r["tokens"]) == _tok(full[r["doc_id"]]["tokens"])
        # ... and the state at the base as _old_<col>
        assert r["_old_source"] == old[r["doc_id"]]


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    t = create_docs_table(spark, str(tmp_path / "tbl2"), n_buckets=8)
    ev = change_events_df(spark, 100, 1000, seed=5)
    t.merge_batch(ev, batch_id=0)
    some = t.read().select("doc_id", "n_tok").orderBy("doc_id").head(3)
    for r in some:
        got = t.lookup(r["doc_id"]).collect()
        assert len(got) == 1 and got[0]["n_tok"] == r["n_tok"]
    assert t.lookup("doc-99999999").count() == 0


def test_pump_window_holding_only_a_compaction(spark, tmp_path):
    """A window whose only commit is a compaction carries no net change.
    Its merge into the replica must record zero events (the observed
    plan can be pruned to nothing and emit no metrics row) and advance
    the cursor, leaving the replica as it was."""
    from ml_data_pipeline_spark.lake.feed import ChangesFeed

    src = create_docs_table(spark, str(tmp_path / "src"), n_buckets=4)
    replica = create_docs_table(spark, str(tmp_path / "replica"), n_buckets=4)
    src.merge_batch(change_events_df(spark, 40, 400, seed=9), batch_id=0)
    feed = ChangesFeed(src, str(tmp_path / "cursor.json"))
    feed.pump_into(replica)
    before = sorted(tuple(r) for r in replica.read().collect())
    compacted = src.compact()["snapshot_id"]

    out = feed.pump_into(replica)
    assert out["advanced"] and out["cursor"] == compacted
    assert feed.cursor == compacted
    assert out["upsert_rows"] == 0
    assert sorted(tuple(r) for r in replica.read().collect()) == before
    assert feed.pump_into(replica)["advanced"] is False
