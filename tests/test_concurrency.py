"""Optimistic-concurrency commits: conflict detection, rebase, retry.

Races are staged deterministically: a hook wrapped around one
handle's ``_write_snapshot`` lets another handle commit first, so the
hooked writer's first attempt ALWAYS conflicts and must rebase.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA, DOC_SCHEMA
from ml_data_pipeline_spark.lake.table import CommitConflict, LakeTable


def _events(spark, rows):
    return spark.createDataFrame(rows, CHANGE_SCHEMA)


def _mk(spark, tmp_path, name="tbl"):
    return LakeTable.create(
        spark, str(tmp_path / name), DOC_SCHEMA, key_col="doc_id", n_buckets=4
    )


def _race_first_commit(loser: LakeTable, winner_action):
    """Make ``loser``'s next commit lose: run ``winner_action`` right
    before its first _write_snapshot attempt, then restore."""
    original = loser._write_snapshot
    state = {"fired": False}

    def hooked(snap):
        if not state["fired"]:
            state["fired"] = True
            winner_action()
        return original(snap)

    loser._write_snapshot = hooked
    return state


def test_duplicate_snapshot_id_conflicts(spark, tmp_path):
    t = _mk(spark, tmp_path)
    snap = t.snapshot
    from dataclasses import replace

    s1 = replace(snap, snapshot_id=1, parent_id=0)
    t._write_snapshot(s1)
    s1b = replace(snap, snapshot_id=1, parent_id=0)
    try:
        t._write_snapshot(s1b)
        raise AssertionError("expected CommitConflict")
    except CommitConflict:
        pass
    # no torn files left behind
    tmps = [f for f in os.listdir(t.meta_dir) if f.endswith(".tmp")]
    assert tmps == []


def test_refresh_probes_past_stale_hint(spark, tmp_path):
    """Snapshot creation is the commit point: a snapshot whose hint
    update never landed must still be visible to refresh()."""
    t = _mk(spark, tmp_path)
    t.merge_batch(
        _events(spark, [(1, "I", "a", [1], 1, "web", None)]), batch_id=0
    )
    sid = t.snapshot.snapshot_id
    # hand-write snapshot sid+1 WITHOUT touching the hint
    d = t.snapshot.to_json()
    d["snapshot_id"] = sid + 1
    d["parent_id"] = sid
    with open(
        os.path.join(t.meta_dir, f"snapshot-{sid + 1}.json"), "w"
    ) as f:
        json.dump(d, f)
    fresh = LakeTable.load(spark, t.root)
    assert fresh.snapshot.snapshot_id == sid + 1


def test_refresh_repairs_hint_regressed_past_vacuum(spark, tmp_path):
    """A writer stalled between snapshot create and hint swap can
    regress the hint to an id vacuum has since expired; refresh()
    must fall back to the max existing snapshot and repair the hint
    instead of dying on the retention gap forever."""
    t = _mk(spark, tmp_path)
    for i in range(3):
        t.merge_batch(
            _events(spark, [(i + 1, "I", f"d{i}", [i], 1, "web", None)]),
            batch_id=i,
        )
    head = t.snapshot.snapshot_id
    t.vacuum(keep_snapshots=1, orphan_grace_sec=0.0)
    # stalled writer publishes a hint pointing at an EXPIRED snapshot
    with open(os.path.join(t.meta_dir, "version-hint.txt"), "w") as f:
        f.write("1")
    assert not os.path.exists(
        os.path.join(t.meta_dir, "snapshot-1.json")
    ), "precondition: snapshot 1 expired"
    fresh = LakeTable.load(spark, t.root)
    assert fresh.snapshot.snapshot_id == head
    # hint self-healed: next refresh takes the fast path
    with open(os.path.join(t.meta_dir, "version-hint.txt")) as f:
        assert int(f.read().strip()) == head
    # and a commit still works on the repaired table
    fresh.merge_batch(
        _events(spark, [(99, "I", "z", [9], 1, "web", None)]), batch_id=99
    )
    assert "z" in {r["doc_id"] for r in fresh.read().collect()}


def test_racing_merges_rebase_and_keep_both(spark, tmp_path):
    t_a = _mk(spark, tmp_path)
    t_b = LakeTable.load(spark, t_a.root)

    def winner():
        t_a.merge_batch(
            _events(spark, [(1, "I", "a", [1, 2], 2, "web", None)]),
            batch_id=1,
        )

    state = _race_first_commit(t_b, winner)
    res = t_b.merge_batch(
        _events(spark, [(2, "I", "b", [3], 1, "web", None)]), batch_id=2
    )
    assert state["fired"] and not res["skipped"]
    # the loser rebased ON TOP of the winner: both docs live, both
    # watermarks retained, parent chain intact
    t_b.refresh()
    docs = {r["doc_id"] for r in t_b.read().collect()}
    assert docs == {"a", "b"}
    assert t_b.snapshot.watermarks["default"] == 2
    assert t_b.snapshot.parent_id == res["snapshot_id"] - 1
    # sidecar blooms rode through the rebase with their (immutable)
    # delta files: every committed file is flagged, and bloom-pruned
    # point lookups work on the post-race table
    assert all(f.bloom_sidecar for f in t_b.snapshot.files)
    assert t_b.lookup("a").collect()[0]["tokens"] == [1, 2]
    assert t_b.lookup("b").collect()[0]["tokens"] == [3]


def test_racing_schema_evolution_rebases_on_merged_schema(spark, tmp_path):
    """The winner adds a column; the loser's rebase re-merges its
    batch schema onto the winner's, so the column survives and the
    loser's rows read it as null."""
    t_a = _mk(spark, tmp_path)
    t_b = LakeTable.load(spark, t_a.root)
    v2 = T.StructType(CHANGE_SCHEMA.fields + [T.StructField("lang", T.StringType())])

    def winner():
        t_a.merge_batch(
            spark.createDataFrame([(1, "I", "a", [1], 1, "web", None, "en")], v2),
            batch_id=1,
        )

    state = _race_first_commit(t_b, winner)
    res = t_b.merge_batch(
        _events(spark, [(2, "I", "b", [2], 1, "web", None)]), batch_id=2
    )
    assert state["fired"] and not res["skipped"]
    head = t_b.refresh()
    assert "lang" in head.schema.fieldNames()
    rows = {r["doc_id"]: r for r in t_b.read().collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"]["lang"] == "en" and rows["a"]["tokens"] == [1]
    assert rows["b"]["lang"] is None and rows["b"]["tokens"] == [2]
    chain = [(s.snapshot_id, s.parent_id) for s in t_b.history()]
    assert chain == [(0, None), (1, 0), (2, 1)]
    assert head.snapshot_id == res["snapshot_id"] == 2


def test_racing_same_batch_skips_exactly_once(spark, tmp_path):
    """Two workers redeliver the SAME batch concurrently: the loser
    must detect the winner's watermark during rebase and skip."""
    t_a = _mk(spark, tmp_path)
    t_b = LakeTable.load(spark, t_a.root)
    ev = [(1, "I", "a", [1], 1, "web", None)]

    state = _race_first_commit(
        t_b, lambda: t_a.merge_batch(_events(spark, ev), batch_id=7)
    )
    res = t_b.merge_batch(_events(spark, ev), batch_id=7)
    assert state["fired"] and res["skipped"]
    rows = t_b.read().collect()
    assert len(rows) == 1  # applied exactly once


def test_compact_loses_race_and_refolds(spark, tmp_path):
    """A compaction racing a merge must redo its fold on the winner's
    head — the merge's rows survive the compacted bucket."""
    t_a = _mk(spark, tmp_path)
    t_b = LakeTable.load(spark, t_a.root)
    t_a.merge_batch(
        _events(spark, [(1, "I", "a", [1], 1, "web", None)]), batch_id=0
    )
    t_b.refresh()

    state = _race_first_commit(
        t_b,
        lambda: t_a.merge_batch(
            _events(spark, [(2, "I", "b", [2], 1, "web", None)]), batch_id=1
        ),
    )
    t_b.compact()
    assert state["fired"]
    t_b.refresh()
    assert t_b.delta_file_count() == 0
    docs = {r["doc_id"] for r in t_b.read().collect()}
    assert docs == {"a", "b"}


def test_vacuum_spares_recent_uncommitted_files(spark, tmp_path):
    """Review fix: a never-referenced RECENT file may be the in-flight
    write of a concurrent merge — vacuum must not delete it until it
    outlives the orphan grace period. Files referenced only by
    EXPIRED snapshots delete immediately (committed garbage)."""
    t = _mk(spark, tmp_path)
    for b in range(3):
        t.merge_batch(
            _events(spark, [(b + 1, "I", f"d{b}", [b], 1, "web", None)]),
            batch_id=b,
        )
    t.compact()  # folds deltas → the delta files become expired-only
    # plant a fake in-flight write (never referenced, mtime = now)
    inflight = os.path.join(t.data_dir, "inflight", "_bucket=0")
    os.makedirs(inflight)
    fresh = os.path.join(inflight, "part-x.parquet")
    with open(fresh, "wb") as f:
        f.write(b"PAR1fake")
    res = t.vacuum(keep_snapshots=1)
    assert os.path.exists(fresh), "in-flight file must survive vacuum"
    assert res["removed_files"] > 0  # expired-snapshot files DID go
    # once past the grace period, the same orphan is reclaimed
    old = os.path.getmtime(fresh) - 7200
    os.utime(fresh, (old, old))
    res2 = t.vacuum(keep_snapshots=1)
    assert not os.path.exists(fresh)
    assert res2["removed_files"] >= 1
