"""Feeds that share a source handle compute each window once.

``ChangesFeed.poll`` takes its window from ``LakeTable._changes_once``:
while another feed of the source handle is at the same cursor, a window
whose input is within the driver bound (computed on the driver by
``changes()`` itself, a local relation) is held on the handle, keyed by
its (since, until) snapshot ids, so that feed reuses it; the slot is
released once those feeds have taken it. A larger window stays lazy, and
a feed with no other feed at its cursor gets ``changes()`` as it is.
Truth model: the rows a feed delivers equal ``changes()`` of the same
snapshot pair, and the replica and index built through a shared handle
equal those built through separate ones.
"""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F
from test_writer_type_fidelity import ROWS, WIDE_SCHEMA

from ml_data_pipeline_spark.cdc.apply import create_docs_table
from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA
from ml_data_pipeline_spark.lake import table as table_mod
from ml_data_pipeline_spark.lake.feed import ChangesFeed, replica_events
from ml_data_pipeline_spark.lake.table import LakeTable
from ml_data_pipeline_spark.lake.token_index import TokenIndex


def _ev(spark, rows):
    return spark.createDataFrame(rows, CHANGE_SCHEMA)


BATCHES = [
    [(i, "I", f"d{i}", [i % 4, 7, i], 3, "web", None) for i in range(1, 40)],
    [
        (50, "U", "d1", [2], 1, "web", None),
        (51, "D", "d2", None, None, None, None),
        (52, "U", "d3", None, None, "code", None),
    ],
    [(60, "I", "d2", [5, 6], 2, "web", None), (61, "D", "d4", None, None, None, None)],
]


def _count_changes(monkeypatch, t: LakeTable) -> list:
    """Records each ``t.changes`` call's (since, until) snapshot ids."""
    calls, changes = [], t.changes

    def spy(since, until_snap=None):
        calls.append((since, until_snap.snapshot_id))
        return changes(since, until_snap=until_snap)

    monkeypatch.setattr(t, "changes", spy)
    return calls


def _rows(t: LakeTable) -> list[tuple]:
    return sorted(map(tuple, t.read(include_hidden=True).collect()))


def test_feeds_at_one_cursor_share_the_window(spark, tmp_path, monkeypatch):
    """A replica pump and an index sync on one source handle compute each
    window once: one ``changes()`` per window, and neither sink's merge
    input plans its aggregate again. The replica and the index equal those
    fed through a handle per feed."""
    src = create_docs_table(spark, str(tmp_path / "src"), n_buckets=4)
    sinks = {
        name: (
            create_docs_table(spark, str(tmp_path / f"replica-{name}"), n_buckets=2),
            TokenIndex.create(spark, str(tmp_path / f"ix-{name}"), n_buckets=2),
        )
        for name in ("shared", "separate")
    }
    calls = _count_changes(monkeypatch, src)
    inputs = []
    for table in (sinks["shared"][0], sinks["shared"][1].table):
        merge = table.merge_batch

        def spy(events, _merge=merge, **kw):
            inputs.append(events._jdf.queryExecution().executedPlan().toString())
            return _merge(events, **kw)

        monkeypatch.setattr(table, "merge_batch", spy)
    shared = (
        ChangesFeed(src, str(tmp_path / "shared-replica.json")),
        ChangesFeed(src, str(tmp_path / "shared-ix.json")),
    )
    separate = tuple(
        ChangesFeed(LakeTable.load(spark, src.root), str(tmp_path / f"sep-{n}.json"))
        for n in ("replica", "ix")
    )
    for i, rows in enumerate(BATCHES):
        src.merge_batch(_ev(spark, rows), batch_id=i)
        head = src.snapshot.snapshot_id
        before = len(calls)
        assert shared[0].pump_into(sinks["shared"][0])["advanced"]
        assert sinks["shared"][1].sync(shared[1])["windows"] == 1
        assert calls[before:] == [(head - 1, head)]
        separate[0].pump_into(sinks["separate"][0])
        sinks["separate"][1].sync(separate[1])
    assert len(inputs) == 2 * len(BATCHES)
    assert not [p for p in inputs if "Aggregate" in p or "FileScan" in p], inputs
    (replica, ix), (replica_sep, ix_sep) = sinks["shared"], sinks["separate"]
    assert _rows(replica) == _rows(replica_sep)
    assert _rows(ix.table) == _rows(ix_sep.table)
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )


def test_feed_at_another_cursor_gets_its_own_window(spark, tmp_path, monkeypatch):
    """A lagging feed on the same handle misses the held window and gets
    its own, equal to the lazy ``changes()`` of its snapshot pair."""
    src = create_docs_table(spark, str(tmp_path / "src"), n_buckets=4)
    ahead = ChangesFeed(src, str(tmp_path / "ahead.json"))
    twin = ChangesFeed(src, str(tmp_path / "twin.json"))
    behind = ChangesFeed(src, str(tmp_path / "behind.json"))
    replica = create_docs_table(spark, str(tmp_path / "replica"), n_buckets=2)
    src.merge_batch(_ev(spark, BATCHES[0]), batch_id=0)
    ahead.pump_into(replica)
    twin.commit(1)
    src.merge_batch(_ev(spark, BATCHES[1]), batch_id=1)
    calls = _count_changes(monkeypatch, src)
    got = {}
    for name, feed in (("ahead", ahead), ("behind", behind)):
        rows, target = feed.poll()
        got[name] = (feed.cursor, target, sorted(map(tuple, rows.collect())))
        if name == "ahead":
            assert src._window[0] == (1, 2)
    assert calls == [(1, 2), (0, 2)] and src._window is None
    assert got["ahead"][:2] == (1, 2) and got["behind"][:2] == (0, 2)
    head = src.snapshot_by_id(2)
    for since, _target, rows in got.values():
        assert rows == sorted(map(tuple, src.changes(since, until_snap=head).collect()))
    assert len(got["behind"][2]) > len(got["ahead"][2]) > 0


def test_window_above_the_bound_stays_lazy(spark, tmp_path, monkeypatch):
    """With the driver bound at 0 no window is held: every poll computes
    its window, and the frame plans the aggregate over the files."""
    monkeypatch.setattr(table_mod, "DRIVER_WRITE_MAX_BYTES", 0)
    src = create_docs_table(spark, str(tmp_path / "src"), n_buckets=4)
    src.merge_batch(_ev(spark, BATCHES[0]), batch_id=0)
    calls = _count_changes(monkeypatch, src)
    feeds = [ChangesFeed(src, str(tmp_path / f"f{i}.json")) for i in range(2)]
    for feed in feeds:
        rows, target = feed.poll()
        plan = rows._jdf.queryExecution().executedPlan().toString()
        assert "Aggregate" in plan and "FileScan" in plan, plan
        assert rows.count() == len(BATCHES[0])
    assert calls == [(0, 1), (0, 1)]
    assert src._window is None


def test_lone_feed_holds_no_window(spark, tmp_path, monkeypatch):
    """A feed alone on its handle polls the ``changes()`` frame itself
    and holds nothing; a second feed of the handle at its cursor makes
    windows held, until it is dropped."""
    src = create_docs_table(spark, str(tmp_path / "src"), n_buckets=4)
    replica = create_docs_table(spark, str(tmp_path / "replica"), n_buckets=2)
    feed = ChangesFeed(src, str(tmp_path / "cursor.json"))
    elsewhere = ChangesFeed(  # noqa: F841 (a feed on another handle)
        LakeTable.load(spark, src.root), str(tmp_path / "elsewhere.json")
    )
    frames, changes = [], src.changes

    def spy(since, until_snap=None):
        frames.append(changes(since, until_snap=until_snap))
        return frames[-1]

    monkeypatch.setattr(src, "changes", spy)
    src.merge_batch(_ev(spark, BATCHES[0]), batch_id=0)
    rows, target = feed.poll()
    assert rows is frames[-1] and src._window is None
    assert feed.pump_into(replica)["advanced"]
    assert src._window is None
    other = ChangesFeed(src, str(tmp_path / "other.json"))
    other.commit(1)
    src.merge_batch(_ev(spark, BATCHES[1]), batch_id=1)
    rows, target = feed.poll()
    assert rows is frames[-1] and rows.isLocal()
    assert src._window[0] == (1, 2) and src._window[1] is rows
    del other
    gc.collect()
    src.merge_batch(_ev(spark, BATCHES[2]), batch_id=2)
    rows, target = feed.poll()
    assert rows is frames[-1] and src._window is None
    assert feed.pump_all(replica) == 1
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )


def test_held_window_released_once_every_feed_took_it(spark, tmp_path):
    """The slot lives until each other feed at the window's cursor has
    polled it, or a later window replaces it; a feed ahead of the others
    holds nothing."""
    src = create_docs_table(spark, str(tmp_path / "src"), n_buckets=4)
    feeds = [ChangesFeed(src, str(tmp_path / f"f{i}.json")) for i in range(3)]
    src.merge_batch(_ev(spark, BATCHES[0]), batch_id=0)
    first, _ = feeds[0].poll()
    for feed in feeds[1:]:
        assert src._window is not None
        rows, target = feed.poll()
        assert rows is first and target == 1
    assert src._window is None
    # polled again, the window is computed again and held for the others
    feeds[0].poll()
    assert src._window[0] == (0, 1)
    feeds[0].commit(1)
    src.merge_batch(_ev(spark, BATCHES[1]), batch_id=1)
    rows, target = feeds[0].poll()
    assert target == 2 and src._window is None


def test_expired_cursor_raises_though_its_window_is_held(spark, tmp_path):
    """A held window does not outlive its base: once vacuum expires the
    base snapshot, a feed still at that cursor is told to re-bootstrap."""
    src = create_docs_table(spark, str(tmp_path / "src"), n_buckets=4)
    src.merge_batch(_ev(spark, BATCHES[0]), batch_id=0)
    first = ChangesFeed(src, str(tmp_path / "first.json"))
    lagging = ChangesFeed(src, str(tmp_path / "lagging.json"))
    for feed in (first, lagging):
        feed.commit(1)
    src.merge_batch(_ev(spark, BATCHES[1]), batch_id=1)
    rows, target = first.poll()
    assert target == 2 and src._window[0] == (1, 2)
    src.vacuum(keep_snapshots=1, orphan_grace_sec=0.0)
    for feed in (lagging, first):
        with pytest.raises(ValueError, match="re-bootstrap"):
            feed.poll()


def test_column_added_after_a_held_window_reaches_the_next(spark, tmp_path):
    """A column a commit adds after a window was held appears in the next
    window, and the replica takes it."""
    src = create_docs_table(spark, str(tmp_path / "src"), n_buckets=4)
    replica = create_docs_table(spark, str(tmp_path / "replica"), n_buckets=2)
    feed = ChangesFeed(src, str(tmp_path / "cursor.json"))
    idle = ChangesFeed(src, str(tmp_path / "idle.json"))  # keeps pace with feed
    src.merge_batch(_ev(spark, BATCHES[0]), batch_id=0)
    feed.pump_into(replica)
    assert src._window[0] == (0, 1)
    idle.commit(1)
    src.merge_batch(
        _ev(spark, BATCHES[1]).withColumn("lang", F.lit("en")), batch_id=1
    )
    rows, target = feed.poll()
    assert "lang" in rows.columns and "_old_lang" in rows.columns
    assert src._window[0] == (1, 2)
    feed.pump_into(replica)
    assert "lang" in replica.refresh().schema.fieldNames()
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )


def test_sink_projects_with_the_window_snapshot(spark, tmp_path):
    """A commit through the shared source handle between ``poll`` and the
    sink's merge adds a column the polled window lacks: the projection
    still reads the window's own snapshot, and the next window brings the
    column."""
    src = create_docs_table(spark, str(tmp_path / "src"), n_buckets=4)
    replica = create_docs_table(spark, str(tmp_path / "replica"), n_buckets=2)
    feed = ChangesFeed(src, str(tmp_path / "cursor.json"))
    src.merge_batch(_ev(spark, BATCHES[0]), batch_id=0)
    rows, target = feed.poll()
    src.merge_batch(
        _ev(spark, BATCHES[1]).withColumn("lang", F.lit("en")), batch_id=1
    )
    assert "lang" in src.snapshot.schema.fieldNames()
    res = feed._sink(replica, replica_events, rows, target)
    assert res["upsert_rows"] == len(BATCHES[0]) and feed.cursor == target
    assert "lang" not in replica.refresh().schema.fieldNames()
    assert feed.pump_all(replica) == 1
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )


def test_held_window_keeps_every_lake_type(spark, tmp_path):
    """Every payload type the lake stores survives the window's Arrow round
    trip: the held window equals the lazy one value for value, old state
    included, and the replica equals the source."""
    t = LakeTable.create(
        spark, str(tmp_path / "wide"), WIDE_SCHEMA, key_col="doc_id", n_buckets=4
    )
    replica = LakeTable.create(
        spark, str(tmp_path / "replica"), WIDE_SCHEMA, key_col="doc_id", n_buckets=2
    )
    feed = ChangesFeed(t, str(tmp_path / "cursor.json"))
    idle = ChangesFeed(t, str(tmp_path / "idle.json"))  # keeps pace with feed
    base = spark.createDataFrame(ROWS, WIDE_SCHEMA)
    # the second commit swaps the payloads of k1 and k3 and deletes k2,
    # so the second window's old state holds every type too
    swapped = spark.createDataFrame(
        [(ROWS[2][0],) + ROWS[0][1:], (ROWS[0][0],) + ROWS[2][1:]], WIDE_SCHEMA
    )
    commits = [
        base.select(F.lit("I").alias("op"), F.lit(1).cast("long").alias("seq"), "*"),
        swapped.select(F.lit("U").alias("op"), F.lit(2).cast("long").alias("seq"), "*")
        .unionByName(
            spark.createDataFrame(
                [("D", 2, "k2")], "op string, seq long, doc_id string"
            ),
            allowMissingColumns=True,
        ),
    ]
    for i, events in enumerate(commits):
        t.merge_batch(events, batch_id=i, exclude_cols=())
        rows, target = feed.poll()
        assert "LocalTableScan" in rows._jdf.queryExecution().executedPlan().toString()
        lazy = t.changes(target - 1, until_snap=t.snapshot_by_id(target))
        assert rows.schema == lazy.schema
        want = {r["doc_id"]: r for r in lazy.collect()}
        assert {r["doc_id"]: r for r in rows.collect()} == want and len(want) == 3
        feed._sink(replica, replica_events, rows, target)
        idle.commit(target)
        assert {r["doc_id"]: r for r in replica.read().collect()} == {
            r["doc_id"]: r for r in t.read().collect()
        }
    assert [(f.name, f.dataType) for f in replica.read().schema.fields] == [
        (f.name, f.dataType) for f in WIDE_SCHEMA.fields
    ]
