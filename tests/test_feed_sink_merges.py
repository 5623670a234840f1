"""Feed sinks merge their windows without the in-batch reduce.

A feed window holds one row per source key, and each sink's projection
keeps its events unique per destination key: the replica one row per
source key, the token index distinct (token, doc_id) pairs. The sink's
merge therefore writes the projection as it is. Truth model: per window,
the frame the sink writes plans no aggregate beyond the window's own,
``upsert_rows`` equals the rows written, and that count equals a pandas
model of the window (changed documents for the replica, their postings
for the index), computed from the source's states at the window's two
snapshots. Every scenario runs twice: with each window held on the source
handle as a local relation (the sink's input plans no aggregate), then
with the driver bound forced to 0, so that each window is the lazy
``changes()`` frame (the input plans the window's own partial and final
aggregate).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from ml_data_pipeline_spark.cdc.apply import create_docs_table
from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA, DOC_SCHEMA
from ml_data_pipeline_spark.lake import table as table_mod
from ml_data_pipeline_spark.lake.feed import ChangesFeed
from ml_data_pipeline_spark.lake.table import PS_PREFIX, SEQ_COL, LakeTable
from ml_data_pipeline_spark.lake.token_index import TokenIndex


def _aggregates(df) -> int:
    """The number of aggregate operators in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = [re.match(r"[\s:+\-]*(\w*)", line)[1] for line in plan.splitlines()]
    return sum(n.endswith("Aggregate") for n in nodes)


class _Sink:
    """Records every merge into ``table``: the aggregates planned in its
    input and in the frame it writes, the files written and the result."""

    def __init__(self, monkeypatch, table: LakeTable):
        self.merges: list[dict] = []
        merge, write = table.merge_batch, table._write_files

        def spy_merge(events, **kw):
            self.merges.append({"in_aggs": _aggregates(events), "writes": []})
            self.merges[-1]["result"] = merge(events, **kw)
            return self.merges[-1]["result"]

        def spy_write(df, kind, snap=None):
            aggs = _aggregates(df)
            files, path = write(df, kind, snap=snap)
            self.merges[-1]["writes"].append((aggs, files))
            return files, path

        monkeypatch.setattr(table, "merge_batch", spy_merge)
        monkeypatch.setattr(table, "_write_files", spy_write)

    def last(self) -> tuple[dict, int]:
        """The last merge, after checking that it wrote one frame that
        plans no aggregate beyond its input's, and that its
        ``upsert_rows`` is the rows written; returns it and that count."""
        m = self.merges[-1]
        [(aggs, files)] = m["writes"]
        assert aggs == m["in_aggs"] <= 2, m
        rows = sum(f.rows for f in files)
        assert m["result"]["upsert_rows"] == rows
        return m, rows


def _states(t: LakeTable, snapshot_id: int) -> dict:
    """key -> (change version, tokens) of ``t``'s live rows at a snapshot.
    The version is the highest event seq that shaped the row, patch
    overlays included, as ``changes()`` compares it."""
    snap = t.snapshot_by_id(snapshot_id)
    ps = [c for c in snap.storage_schema().fieldNames() if c.startswith(PS_PREFIX)]
    out = {}
    for r in t.read(include_hidden=True, as_of_snapshot=snapshot_id).collect():
        version = max([r[SEQ_COL]] + [r[c] for c in ps if r[c] is not None])
        out[r[snap.key_col]] = (version, r["tokens"])
    return out


def _window_model(old: dict, new: dict, stop: set) -> tuple[int, int]:
    """(replica rows, index postings) of the window from state ``old`` to
    ``new``: one replica row per changed document, and per changed
    document a posting for each distinct non-stop token it now holds plus
    one for each it lost."""
    changed = {k for k in new if k not in old or new[k][0] != old[k][0]}
    changed |= old.keys() - new.keys()

    def bag(state, k):
        return set(state[k][1] or []) - stop if k in state else set()

    postings = sum(
        len(bag(new, k)) + len(bag(old, k) - bag(new, k)) for k in changed
    )
    return len(changed), postings


def _drive(spark, tmp_path, monkeypatch, make_src, schema, batches, stop=()):
    """``_run`` over windows held on the source handle (the sinks' input
    plans no aggregate), then over lazy windows, the driver bound forced
    to 0 (the input plans the window's own partial and final aggregate).
    ``make_src(dir)`` creates each run's source; returns the held run's."""
    with monkeypatch.context() as m:
        m.setattr(table_mod, "DRIVER_WRITE_MAX_BYTES", 0)
        lazy = make_src(tmp_path / "lazy")
        _run(spark, tmp_path / "lazy", monkeypatch, lazy, schema, batches, 2, stop)
    src = make_src(tmp_path / "held")
    _run(spark, tmp_path / "held", monkeypatch, src, schema, batches, 0, stop)
    return src


def _run(spark, tmp_path, monkeypatch, src, schema, batches, aggs, stop):
    """Commit ``batches`` to ``src`` one by one, then a compaction, and
    after each commit pump the window into a replica and sync it into a
    token index, checking both merges against the model and that each
    merge's input plans ``aggs`` aggregates."""
    replica = LakeTable.create(
        spark, str(tmp_path / "replica"), schema, key_col=src.key_col, n_buckets=4
    )
    ix = TokenIndex.create(
        spark, str(tmp_path / "ix"), n_buckets=4, stop_tokens=list(stop)
    )
    rsink, isink = _Sink(monkeypatch, replica), _Sink(monkeypatch, ix.table)
    rfeed = ChangesFeed(src, str(tmp_path / "replica.json"))
    ifeed = ChangesFeed(src, str(tmp_path / "ix.json"))
    commits = [
        *(
            lambda i=i, rows=rows: src.merge_batch(rows, batch_id=i)
            for i, rows in enumerate(batches)
        ),
        src.compact,
    ]
    windows = []
    for commit in commits:
        base = rfeed.cursor
        commit()
        want = _window_model(
            _states(src, base), _states(src, src.snapshot.snapshot_id), set(stop)
        )
        assert rfeed.pump_into(replica)["advanced"]
        m, rows = rsink.last()
        assert (m["in_aggs"], rows) == (aggs, want[0])
        assert ix.sync(ifeed)["windows"] == 1
        m, rows = isink.last()
        assert (m["in_aggs"], rows) == (aggs, want[1])
        windows.append(want)
    # Every batch changed documents; the compaction's window changed none.
    assert all(rows and postings for rows, postings in windows[:-1]), windows
    assert windows[-1] == (0, 0)
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )
    live = _states(src, src.snapshot.snapshot_id)
    postings = ix.table.read().collect()
    assert sorted((r["token"], r["doc_id"]) for r in postings) == sorted(
        (t, str(k)) for k, (_, toks) in live.items() for t in set(toks or []) - set(stop)
    )


def test_sinks_write_windows_unreduced(spark, tmp_path, monkeypatch):
    """Inserts, updates that drop tokens, deletes, re-inserts, NULL token
    arrays and a stop token, then a window holding only a compaction; a
    bootstrap into an empty replica writes the source's state as is."""
    def make_src(root):
        return create_docs_table(spark, str(root / "src"), n_buckets=4)

    def ev(rows):
        return spark.createDataFrame(rows, CHANGE_SCHEMA)

    batches = [
        ev([(i, "I", f"d{i}", [i % 5, 7, 7, i], 4, "web", None) for i in range(1, 30)]),
        ev(
            [
                (40, "U", "d1", [2, 7], 2, "web", None),  # drops tokens 1
                (41, "D", "d2", None, None, None, None),
                (42, "U", "d3", None, None, "web", None),  # NULL tokens
                (43, "D", "d4", None, None, None, None),
                (44, "I", "d4", [9, 7], 2, "code", None),  # re-insert
                (45, "U", "d5", [5, 7, 5, 0], 4, "web", None),  # same bag
                (46, "U", "d6", [1], 1, "web", None),
                (30, "U", "d6", [99], 1, "web", None),  # loses to seq 46
            ]
        ),
        ev(
            [
                (50, "I", "d2", [2, 3], 2, "web", None),  # re-insert
                (51, "D", "d1", None, None, None, None),
                (52, "U", "d3", [3, 7], 2, "web", None),
            ]
        ),
    ]
    src = _drive(spark, tmp_path, monkeypatch, make_src, DOC_SCHEMA, batches, stop=[7])

    fresh = LakeTable.create(
        spark, str(tmp_path / "fresh"), DOC_SCHEMA, key_col="doc_id", n_buckets=4
    )
    sink = _Sink(monkeypatch, fresh)
    src.merge_batch(ev([(60, "U", "d8", [8], 1, "web", None)]), batch_id=9)
    ChangesFeed(src, str(tmp_path / "fresh.json")).bootstrap(fresh)
    m, rows = sink.last()
    assert m["in_aggs"] == 2  # the read's reduce of the delta-bearing bucket
    assert rows == len(_states(src, src.snapshot.snapshot_id))


def test_sinks_of_a_patch_table(spark, tmp_path, monkeypatch):
    """A patch moves a row's change version without a full event; the
    sinks still receive one row per changed document."""
    def make_src(root):
        return LakeTable.create(
            spark,
            str(root / "src"),
            DOC_SCHEMA,
            key_col="doc_id",
            n_buckets=4,
            properties={"patch.enabled": "true"},
        )

    def ev(rows):
        return spark.createDataFrame(rows, CHANGE_SCHEMA)

    batches = [
        ev([(i, "I", f"d{i}", [i, i + 1], 2, "web", None) for i in range(1, 20)]),
        ev(
            [
                (30, "P", "d1", None, None, "patched", None),
                (31, "P", "d2", [5, 6, 7], 3, None, None),
                (32, "D", "d3", None, None, None, None),
                (33, "P", "d3", None, None, "late", None),  # no resurrection
                (34, "P", "d40", None, None, "carrier", None),  # patch only
                (5, "P", "d9", None, None, "stale", None),  # loses to its base
            ]
        ),
    ]
    _drive(spark, tmp_path, monkeypatch, make_src, DOC_SCHEMA, batches)


def test_sinks_of_an_int_keyed_source(spark, tmp_path, monkeypatch):
    """The index casts an int key to its string doc_id; the replica keeps
    the int key."""
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
        ]
    )
    def make_src(root):
        return LakeTable.create(
            spark, str(root / "src"), schema, key_col="k", n_buckets=4
        )

    def ev(rows):
        return spark.createDataFrame(rows, "seq long, op string, k int, tokens array<int>")

    batches = [
        ev([(k + 1, "I", k, [k % 3, 1, 1]) for k in range(30)]),
        ev([(40, "U", 1, [2]), (41, "D", 2, None), (42, "U", 3, None)]),
        ev([(43, "I", 2, [4]), (44, "D", 3, None)]),  # re-insert, delete
    ]
    _drive(spark, tmp_path, monkeypatch, make_src, schema, batches)
