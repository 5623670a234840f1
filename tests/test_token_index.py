"""Inverted token index maintained from the ChangesFeed.

Truth model: after any sync, `postings(t)` must equal the set of live
documents whose token array contains t, recomputed from the main
table — across inserts, updates that REMOVE tokens, deletes,
re-delivered windows (crash between append and cursor commit), and
index compaction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_data_pipeline_spark.cdc.apply import apply_batch, create_docs_table
from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA
from ml_data_pipeline_spark.lake import table as table_mod
from ml_data_pipeline_spark.lake.feed import ChangesFeed
from ml_data_pipeline_spark.lake.token_index import TokenIndex


def _events(spark, rows):
    return spark.createDataFrame(rows, CHANGE_SCHEMA)


def _truth(table):
    """token -> set(doc_id) recomputed from the table's live state."""
    rows = (
        table.read()
        .select("doc_id", F.explode(F.array_distinct("tokens")).alias("t"))
        .collect()
    )
    out: dict[int, set[str]] = {}
    for r in rows:
        out.setdefault(r["t"], set()).add(r["doc_id"])
    return out


def _check_full(ix, table):
    truth = _truth(table)
    all_tokens = set(truth) | {999}  # 999 = never-present probe
    for t in sorted(all_tokens):
        got = {r["doc_id"] for r in ix.postings(t).collect()}
        assert got == truth.get(t, set()), (t, got, truth.get(t, set()))


def test_token_index_tracks_updates_deletes(spark, tmp_path):
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    ix = TokenIndex.create(spark, str(tmp_path / "ix"), n_buckets=8)
    feed = ChangesFeed(t, str(tmp_path / "cursor.json"))

    apply_batch(
        t,
        _events(
            spark,
            [
                (1, "I", "a", [10, 11, 12], 3, "web", None),
                (2, "I", "b", [11, 13], 2, "web", None),
                (3, "I", "c", [10, 13, 13], 3, "code", None),  # dup token
            ],
        ),
        batch_id=0,
    )
    ix.sync(feed)
    _check_full(ix, t)

    # update removes tokens 11,12 from a, adds 14; delete b entirely
    apply_batch(
        t,
        _events(
            spark,
            [
                (4, "U", "a", [10, 14], 2, "web", None),
                (5, "D", "b", None, None, None, None),
            ],
        ),
        batch_id=1,
    )
    ix.sync(feed)
    _check_full(ix, t)
    assert {r["doc_id"] for r in ix.postings(11).collect()} == set()
    assert {r["doc_id"] for r in ix.postings(13).collect()} == {"c"}

    # crash-replay: rewind the cursor one window and re-sync — the
    # duplicate append must reduce to the identical state
    feed.commit(feed.cursor - 1)
    out = ix.sync(feed)
    assert out["windows"] == 1
    _check_full(ix, t)

    # compaction folds the index's deltas; results unchanged
    ix.compact()
    assert ix.table.delta_file_count() == 0
    _check_full(ix, t)

    # contamination primitive: docs containing the whole token set
    got = {r["doc_id"] for r in ix.containing_all([10, 14]).collect()}
    assert got == {"a"}
    got = {r["doc_id"] for r in ix.containing_all([10]).collect()}
    assert got == {"a", "c"}
    assert ix.containing_all([10, 11]).count() == 0

    # a reloaded index handle sees the same state
    ix2 = TokenIndex.load(spark, ix.root)
    _check_full(ix2, t)


def test_index_rebuild_after_vacuum_expired_cursor(spark, tmp_path):
    """Lagging-index recovery: vacuum expires the feed cursor → sync
    raises the re-bootstrap contract → a recreated index rebuilds from
    the table's live state and resumes incremental syncing exactly."""
    import os
    import shutil

    import pytest

    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    ix = TokenIndex.create(spark, str(tmp_path / "ix"), n_buckets=8)
    feed = ChangesFeed(t, str(tmp_path / "cursor.json"))
    apply_batch(
        t,
        _events(
            spark,
            [
                (1, "I", "a", [10, 11], 2, "web", None),
                (2, "I", "b", [11, 12], 2, "web", None),
            ],
        ),
        batch_id=0,
    )
    ix.sync(feed)
    _check_full(ix, t)

    # more history, then expire it past the cursor
    apply_batch(
        t,
        _events(spark, [(3, "U", "a", [10, 13], 2, "web", None),
                        (4, "D", "b", None, None, None, None)]),
        batch_id=1,
    )
    t.compact()
    t.vacuum(keep_snapshots=1, orphan_grace_sec=0.0)
    with pytest.raises(ValueError, match="re-bootstrap"):
        ix.sync(feed)

    # a half-synced index refuses rebuild; recreate + rebuild works
    with pytest.raises(ValueError, match="recreate"):
        ix.rebuild(feed)
    shutil.rmtree(ix.root)
    os.remove(str(tmp_path / "cursor.json"))
    ix2 = TokenIndex.create(spark, str(tmp_path / "ix"), n_buckets=8)
    feed2 = ChangesFeed(t, str(tmp_path / "cursor.json"))
    out = ix2.rebuild(feed2)
    assert out["rebuilt"] and out["cursor"] == t.snapshot.snapshot_id
    _check_full(ix2, t)
    assert {r["doc_id"] for r in ix2.postings(13).collect()} == {"a"}
    assert ix2.postings(12).count() == 0  # b's delete not resurrected

    # incremental resume after the rebuild
    apply_batch(
        t,
        _events(spark, [(5, "I", "c", [13, 14], 2, "code", None)]),
        batch_id=2,
    )
    assert ix2.sync(feed2)["windows"] == 1
    _check_full(ix2, t)


def test_contaminated_docs_exact_subsequence(spark, tmp_path):
    """containing_all is set membership (candidates); contaminated_docs
    must verify CONTIGUOUS order — a doc with the right tokens in the
    wrong order is a candidate but not a contamination."""
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    ix = TokenIndex.create(spark, str(tmp_path / "ix"), n_buckets=8)
    feed = ChangesFeed(t, str(tmp_path / "cursor.json"))
    apply_batch(
        t,
        _events(
            spark,
            [
                (1, "I", "hit", [5, 1, 2, 3, 9], 5, "web", None),
                (2, "I", "scrambled", [3, 2, 1, 5, 9], 5, "web", None),
                (3, "I", "partial", [1, 2, 7], 3, "web", None),
                (4, "I", "exact", [1, 2, 3], 3, "web", None),
                (5, "I", "short", [1], 1, "web", None),
            ],
        ),
        batch_id=0,
    )
    ix.sync(feed)
    got = {r["doc_id"] for r in ix.contaminated_docs(t, [1, 2, 3]).collect()}
    assert got == {"hit", "exact"}
    # sequence longer than any doc: no matches, no errors
    assert ix.contaminated_docs(t, [1, 2, 3, 9, 9, 9, 9]).count() == 0
    # no candidates at all (token 42 indexed nowhere)
    assert ix.contaminated_docs(t, [42]).count() == 0
    # verify stays JVM-side and candidates stay DISTRIBUTED: no Python
    # nodes, candidate ids applied via a semi-join (never collected
    # into a driver-side isin / LocalTableScan literal list)
    plan = (
        ix.contaminated_docs(t, [1, 2])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "LeftSemi" in plan
    assert "LocalTableScan" not in plan


def test_stop_tokens_bound_skew_and_still_verify(spark, tmp_path):
    """A stop token (present in ~every doc) is excluded from postings
    (the skew bound), rejected at probe time, but still participates
    in contaminated_docs' exact verify via the informative subset."""
    import pytest

    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=2)
    ix = TokenIndex.create(
        spark, str(tmp_path / "ix"), n_buckets=4, stop_tokens=[7]
    )
    feed = ChangesFeed(t, str(tmp_path / "cursor.json"))
    apply_batch(
        t,
        _events(
            spark,
            [
                (1, "I", "a", [7, 1, 2], 3, "web", None),
                (2, "I", "b", [7, 2, 1], 3, "web", None),
                (3, "I", "c", [7, 9], 2, "web", None),
            ],
        ),
        batch_id=0,
    )
    ix.sync(feed)
    # no postings rows exist for the stop token anywhere in the index
    raw = ix.table.scan_files()
    assert raw.where("token = 7").count() == 0
    with pytest.raises(ValueError):
        ix.postings(7)
    with pytest.raises(ValueError):
        ix.containing_all([7, 1])
    # exact sequence verify still honors the stop token's POSITION
    got = {r["doc_id"] for r in ix.contaminated_docs(t, [7, 1, 2]).collect()}
    assert got == {"a"}  # b has 7,2,1 — candidate via {1,2}, fails verify
    with pytest.raises(ValueError):
        ix.contaminated_docs(t, [7])


def test_null_tokens_update_retracts_postings(spark, tmp_path):
    """An update that sets tokens to NULL (legal) must retract ALL the
    doc's old postings — found by review: array_except(old, NULL) is
    NULL, which silently emitted no delete rows."""
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=2)
    ix = TokenIndex.create(spark, str(tmp_path / "ix"), n_buckets=4)
    feed = ChangesFeed(t, str(tmp_path / "cursor.json"))
    apply_batch(
        t,
        _events(spark, [(1, "I", "a", [1, 2], 2, "web", None)]),
        batch_id=0,
    )
    ix.sync(feed)
    assert {r["doc_id"] for r in ix.postings(1).collect()} == {"a"}
    apply_batch(
        t,
        _events(spark, [(2, "U", "a", None, None, "web", None)]),
        batch_id=1,
    )
    ix.sync(feed)
    assert ix.postings(1).count() == 0
    assert ix.postings(2).count() == 0


def test_probe_built_before_compact_still_reads(spark, tmp_path):
    """A postings frame built before the index is compacted reads the
    files of the snapshot it was built on: compaction deletes none, so
    collecting the frame afterwards returns the same documents."""
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=2)
    ix = TokenIndex.create(spark, str(tmp_path / "ix"), n_buckets=4)
    feed = ChangesFeed(t, str(tmp_path / "cursor.json"))
    for i, rows in enumerate(
        [
            [(1, "I", "a", [10, 11], 2, "web", None),
             (2, "I", "b", [10], 1, "web", None)],
            [(3, "I", "c", [10, 12], 2, "web", None),
             (4, "D", "b", None, None, None, None)],
        ]
    ):
        apply_batch(t, _events(spark, rows), batch_id=i)
        ix.sync(feed)
    p = ix.postings(10)
    ix.compact()
    assert {r["doc_id"] for r in p.collect()} == {"a", "c"}
    _check_full(ix, t)


def test_int_keyed_source(spark, tmp_path):
    """The index holds document ids as strings: sync and rebuild cast
    an int key, and contaminated_docs casts its candidates back to
    find and verify them in the int-keyed table."""
    from pyspark.sql import types as T

    from ml_data_pipeline_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "tbl"), schema, key_col="k", n_buckets=4)
    t.merge_batch(
        spark.createDataFrame(
            [(k + 1, "I", k, [k, 1, 2, 3]) for k in range(40)],
            "seq long, op string, k int, tokens array<int>",
        ),
        batch_id=0,
    )
    every = {str(k) for k in range(40)}
    ix = TokenIndex.create(spark, str(tmp_path / "ix"), n_buckets=4)
    ix.sync(ChangesFeed(t, str(tmp_path / "cursor.json")))
    assert {r["doc_id"] for r in ix.postings(2).collect()} == every
    got = [r["k"] for r in ix.contaminated_docs(t, [1, 2, 3]).collect()]
    assert sorted(got) == list(range(40))

    ix2 = TokenIndex.create(spark, str(tmp_path / "ix2"), n_buckets=4)
    ix2.rebuild(ChangesFeed(t, str(tmp_path / "cursor2.json")))
    assert {r["doc_id"] for r in ix2.postings(2).collect()} == every


def test_rebuild_repairs_lost_cursor_commit(spark, tmp_path):
    """A rebuild whose merge committed but whose cursor commit was lost
    is finished, not refused: the cursor advances to the index's
    watermark, no file is rewritten, and syncing resumes from there."""
    import os

    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    apply_batch(
        t,
        _events(
            spark,
            [
                (1, "I", "a", [10, 11], 2, "web", None),
                (2, "I", "b", [11, 12], 2, "web", None),
            ],
        ),
        batch_id=0,
    )
    ix = TokenIndex.create(spark, str(tmp_path / "ix"), n_buckets=4)
    feed = ChangesFeed(t, str(tmp_path / "cursor.json"))
    assert ix.rebuild(feed)["rebuilt"]
    os.remove(feed.cursor_path)  # the lost cursor commit
    before = ix.table.refresh()
    out = ix.rebuild(feed)
    assert out == {
        "rebuilt": False,
        "recovered": True,
        "cursor": t.snapshot.snapshot_id,
    }
    assert feed.cursor == t.snapshot.snapshot_id
    after = ix.table.refresh()
    assert after.snapshot_id == before.snapshot_id
    assert [f.path for f in after.files] == [f.path for f in before.files]
    _check_full(ix, t)

    apply_batch(
        t,
        _events(spark, [(3, "U", "a", [10, 13], 2, "web", None)]),
        batch_id=1,
    )
    assert ix.sync(feed)["windows"] == 1
    _check_full(ix, t)


def test_index_files_carry_no_bloom(spark, tmp_path):
    """The index's key is (token, doc_id), which has no point lookup,
    so its files get no key bloom; the source table's files keep
    theirs."""
    import os

    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=2)
    ix = TokenIndex.create(spark, str(tmp_path / "ix"), n_buckets=4)
    feed = ChangesFeed(t, str(tmp_path / "cursor.json"))
    apply_batch(
        t,
        _events(
            spark,
            [(i, "I", f"d{i}", [i, i + 1], 2, "web", None) for i in range(20)],
        ),
        batch_id=0,
    )
    ix.sync(feed)
    ix.compact()
    files = ix.table.refresh().files
    assert files and not any(f.bloom_sidecar or f.key_bloom for f in files)
    assert not [
        n for _d, _s, names in os.walk(ix.table.data_dir) for n in names
        if n.endswith(".bloom")
    ]
    assert all(f.bloom_sidecar for f in t.refresh().files)
    _check_full(ix, t)


def _plan_nodes(plan: str) -> list[str]:
    """The operator names of a plan's tree string, one per node."""
    import re

    return [re.match(r"[\s:+\-]*(\w*)", line)[1] for line in plan.splitlines()]


def test_index_merge_input_plans_changes_once(spark, tmp_path, monkeypatch):
    """The postings of a window come from ONE copy of its ``changes()``
    aggregate (partial and final): adds and deletes are one explode,
    not a union of two projections that each plan the aggregate. The
    only union left is the aggregate's own input (base files beside
    window files); a window from the empty table has none. (The driver
    bound is 0, so each window is the Spark plan.)"""
    monkeypatch.setattr(table_mod, "DRIVER_WRITE_MAX_BYTES", 0)
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    ix = TokenIndex.create(spark, str(tmp_path / "ix"), n_buckets=4)
    feed = ChangesFeed(t, str(tmp_path / "cursor.json"))
    plans = []
    merge = ix.table.merge_batch

    def spy(events, **kw):
        plans.append(events._jdf.queryExecution().executedPlan().toString())
        return merge(events, **kw)

    monkeypatch.setattr(ix.table, "merge_batch", spy)
    batches = [
        [(i, "I", f"d{i}", [i, 7], 2, "web", None) for i in range(1, 20)],
        [(30, "U", "d1", [8], 1, "web", None), (31, "D", "d2", None, None, None, None)],
    ]
    for i, rows in enumerate(batches):
        apply_batch(t, _events(spark, rows), batch_id=i)
        assert ix.sync(feed)["windows"] == 1
    _check_full(ix, t)
    first, second = (_plan_nodes(p) for p in plans)
    for nodes, plan in ((first, plans[0]), (second, plans[1])):
        aggs = [i for i, n in enumerate(nodes) if n.endswith("Aggregate")]
        assert len(aggs) == 2, plan
        assert "Union" not in nodes[: aggs[0]], plan
    assert "Union" not in first, plans[0]
