"""ChangesFeed: incremental table→table replication, exactly-once.

Chains the full CDC path: event replay → table A → changes feed →
table B, pumping incrementally between batches, with a crash-replay
probe (re-delivered window must be skipped by B's watermark) and a
compaction inside the window (must produce no false changes).
"""

from __future__ import annotations

from ml_data_pipeline_spark.cdc.apply import apply_batch, create_docs_table
from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA
from ml_data_pipeline_spark.lake.feed import ChangesFeed


def _events(spark, rows):
    return spark.createDataFrame(rows, CHANGE_SCHEMA)


def _state(t):
    return {
        r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
        for r in t.read().collect()
    }


def test_feed_replicates_table_incrementally(spark, tmp_path):
    a = create_docs_table(spark, str(tmp_path / "a"), n_buckets=4)
    b = create_docs_table(spark, str(tmp_path / "b"), n_buckets=2)
    feed = ChangesFeed(a, str(tmp_path / "cursor" / "feed.json"))

    batches = [
        [
            (1, "I", "d1", [1, 2], 2, "web", None),
            (2, "I", "d2", [3], 1, "books", None),
            (3, "I", "d3", [4, 5, 6], 3, "code", None),
        ],
        [
            (4, "U", "d1", [7, 7], 2, "web", None),
            (5, "D", "d2", None, None, None, None),
        ],
        [
            (6, "I", "d4", [9], 1, "web", None),
            (7, "U", "d3", [1], 1, "code", None),
        ],
    ]
    for i, rows in enumerate(batches):
        apply_batch(a, _events(spark, rows), batch_id=i)
        out = feed.pump_into(b)
        assert out["advanced"]
        assert _state(b) == _state(a)

    # drained feed: nothing new
    assert feed.pump_into(b) == {"advanced": False, "cursor": feed.cursor}

    # crash between merge and cursor commit: rewind the cursor and
    # re-pump — the destination watermark must skip the re-delivery
    committed = feed.cursor
    feed.commit(committed - 1)
    out = feed.pump_into(b)
    assert out["advanced"] and out["skipped"]
    assert feed.cursor == committed
    assert _state(b) == _state(a)

    # a fresh feed object at the same cursor path resumes cleanly
    feed2 = ChangesFeed(a, str(tmp_path / "cursor" / "feed.json"))
    assert feed2.cursor == committed

    # compaction inside the next window: no false changes, still exact
    a.compact()
    apply_batch(
        a,
        _events(spark, [(8, "D", "d3", None, None, None, None)]),
        batch_id=3,
    )
    assert feed2.pump_into(b)["advanced"]
    assert _state(b) == _state(a)
    assert "d3" not in _state(b)


def test_feed_replicates_through_schema_evolution(spark, tmp_path):
    """Source table evolves mid-stream (new column): the feed's later
    windows carry the evolved schema and the destination evolves
    through its own merge path — final states equal column-for-column."""
    from pyspark.sql import types as T

    from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA

    a = create_docs_table(spark, str(tmp_path / "a"), n_buckets=2)
    b = create_docs_table(spark, str(tmp_path / "b"), n_buckets=2)
    feed = ChangesFeed(a, str(tmp_path / "cur" / "c.json"))

    apply_batch(
        a,
        _events(spark, [(1, "I", "d1", [1], 1, "web", None),
                        (2, "I", "d2", [2], 1, "web", None)]),
        batch_id=0,
    )
    feed.pump_into(b)

    v2 = T.StructType(
        CHANGE_SCHEMA.fields + [T.StructField("lang", T.StringType())]
    )
    ev2 = spark.createDataFrame(
        [(3, "U", "d1", [9, 9], 2, "web", None, "en"),
         (4, "I", "d3", [3], 1, "code", None, "de")],
        v2,
    )
    apply_batch(a, ev2, batch_id=1)
    feed.pump_into(b)

    assert "lang" in b.schema.fieldNames()
    sa = {
        r["doc_id"]: (r["tokens"], r["lang"]) for r in a.read().collect()
    }
    sb = {
        r["doc_id"]: (r["tokens"], r["lang"]) for r in b.read().collect()
    }
    assert sa == sb
    assert sa["d1"] == ([9, 9], "en") and sa["d2"][1] is None
