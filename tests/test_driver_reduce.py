"""The driver-side reduce agrees with Spark's.

A plain table reduces small inputs on the driver with pyarrow
(``lake.table._latest_on_driver``): the ``changes()`` window, a
compaction and a point lookup. Truth model: the same call with the driver
bound forced to 0 (``DRIVER_WRITE_MAX_BYTES``), which takes the Spark
plan — the window's rows and schema, the compacted table's ``read()`` and
the rows of each bucket's new base file must be equal. A max-``_seq`` tie
between differing rows, and every patch table, take the Spark plan.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA, DOC_SCHEMA
from ml_data_pipeline_spark.lake import table as table_mod
from ml_data_pipeline_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("part", T.IntegerType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("v", T.StringType()),
    ]
)
EVENTS = "seq long, op string, k string, part int, tokens array<int>, v string"


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def _on_spark(monkeypatch, fn):
    """``fn()`` with the driver bound at 0: every reduce takes Spark."""
    with monkeypatch.context() as m:
        m.setattr(table_mod, "DRIVER_WRITE_MAX_BYTES", 0)
        return fn()


@st.composite
def histories(draw):
    """Commits of change events over a few keys: unique seqs drawn out of
    order, events delivered twice, deletes and re-inserts, NULL and empty
    token arrays; a compaction and a commit that adds a column land
    somewhere among them."""
    n = draw(st.integers(min_value=4, max_value=24))
    seqs = draw(st.permutations(range(1, n + 1)))
    events = []
    for seq in seqs:
        op = draw(st.sampled_from(["I", "U", "D"]))
        tokens = None if op == "D" else draw(
            st.none() | st.lists(st.integers(0, 9), max_size=4)
        )
        events.append(
            (
                seq,
                op,
                f"k{draw(st.integers(0, 4))}",
                draw(st.integers(0, 1)),
                tokens,
                None if op == "D" else draw(st.sampled_from(["a", "b"])),
            )
        )
    cuts = draw(st.lists(st.integers(1, n - 1), min_size=1, max_size=3, unique=True))
    commits = [events[a:b] for a, b in zip([0, *sorted(cuts)], [*sorted(cuts), n])]
    lang = draw(st.integers(0, len(commits) - 1))
    # An event delivered twice, both times in commits without the added
    # column: delivered once with it, its two rows would differ.
    plain = [i for i in range(len(commits)) if i != lang]
    again = draw(st.sampled_from([e for i in plain for e in commits[i]]))
    into = draw(st.sampled_from(plain))
    commits[into] = [*commits[into], again]
    steps = [("merge_lang" if i == lang else "merge", c) for i, c in enumerate(commits)]
    steps.insert(draw(st.integers(1, len(steps))), ("compact", None))
    return draw(st.booleans()), steps


@settings(
    max_examples=10,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(histories())
def test_driver_window_equals_spark_window(spark, tmp_path_factory, monkeypatch, history):
    composite, steps = history
    t = LakeTable.create(
        spark,
        str(tmp_path_factory.mktemp("hist") / "tbl"),
        SCHEMA,
        key_col=("k", "part") if composite else "k",
        n_buckets=2,
    )
    for i, (kind, events) in enumerate(steps):
        if kind == "compact":
            t.compact()
            continue
        df = spark.createDataFrame(events, EVENTS)
        if kind == "merge_lang":
            df = df.withColumn("lang", F.concat(F.col("v"), F.lit("!")))
        t.merge_batch(df, batch_id=i, exclude_cols=())
    head = t.refresh().snapshot_id
    windows = {(s, s + 1) for s in range(head)} | {(0, head), (1, head)}
    for since, until in sorted(windows):
        snap = t.snapshot_by_id(until)
        rows = t.changes(since, until_snap=snap)
        lazy = _on_spark(monkeypatch, lambda: t.changes(since, until_snap=snap))
        # every seq is unique, so only identical rows tie
        assert rows.isLocal() and not lazy.isLocal()
        assert rows.schema == lazy.schema, (since, until)
        assert _rows(rows) == _rows(lazy), (since, until, steps)


def _base_rows(t: LakeTable) -> dict:
    """bucket -> the sorted rows of its one base file."""
    out = {}
    for f in t.refresh().files:
        assert f.kind == "base" and f.bucket not in out
        rows = pq.read_table(f"{t.root}/{f.path}").to_pylist()
        out[f.bucket] = sorted(map(repr, rows))
    return out


def _ev(spark, rows, schema=CHANGE_SCHEMA):
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("gc", [None, 53])
def test_driver_compaction_equals_spark_compaction(spark, tmp_path, monkeypatch, gc):
    """The same history compacted on the driver and on Spark: the same
    ``read()``, tombstones kept or GC'd alike, the same rows in each
    bucket's base file — across an added column and a widened type."""
    widened = T.StructType(
        [
            T.StructField("n_tok", T.LongType()) if f.name == "n_tok" else f
            for f in CHANGE_SCHEMA.fields
        ]
        + [T.StructField("lang", T.StringType())]
    )
    commits = [
        _ev(spark, [(i, "I", f"d{i}", [i, 1], 2, "web", None) for i in range(30)]),
        _ev(
            spark,
            [(40 + i, "U", f"d{i}", [i], 1, "code", None) for i in range(10)]
            + [(40 + i, "D", f"d{i}", None, None, None, None) for i in range(10, 16)]
            + [(5, "U", "d20", [99], 1, "late", None)],  # loses to seq 20
        ),
        _ev(
            spark,
            [(60, "I", "d12", [12], 1, "web", None, "en")]  # re-insert
            + [(61, "U", "d1", [7, 7], 2, "web", None, "de")],
            widened,
        ),
    ]
    tables = {}
    for name in ("driver", "spark"):
        t = LakeTable.create(
            spark, str(tmp_path / name), DOC_SCHEMA, key_col="doc_id", n_buckets=4
        )
        for i, ev in enumerate(commits):
            t.merge_batch(ev, batch_id=i)
        tables[name] = t
    with monkeypatch.context() as m:
        m.setattr(tables["driver"], "_reduce", lambda *a: pytest.fail("Spark reduce"))
        assert tables["driver"].compact(gc_before_seq=gc)["write_path"] == "driver"
    res = _on_spark(monkeypatch, lambda: tables["spark"].compact(gc_before_seq=gc))
    assert res["write_path"] == "executors"
    driver, spark_ = tables["driver"], tables["spark"]
    assert _rows(driver.read(include_hidden=True)) == _rows(spark_.read(include_hidden=True))
    assert _base_rows(driver) == _base_rows(spark_)
    # d10-d15 deleted at seqs 50-55, d12 re-inserted: gc at 53 drops two
    tombstones = sum(
        "'_deleted': True" in row for rows in _base_rows(driver).values() for row in rows
    )
    assert tombstones == (3 if gc else 5)


def test_driver_compaction_of_some_buckets_of_a_composite_key(spark, tmp_path, monkeypatch):
    """A composite-key table (the token index's shape) compacting a subset
    of its buckets: the same files on the driver and on Spark."""
    schema = T.StructType(
        [T.StructField("token", T.IntegerType(), False),
         T.StructField("doc_id", T.StringType(), False)]
    )
    events = "seq long, op string, token int, doc_id string"
    tables = {}
    for name in ("driver", "spark"):
        t = LakeTable.create(
            spark, str(tmp_path / name), schema, key_col=("token", "doc_id"), n_buckets=4
        )
        t.merge_batch(
            spark.createDataFrame(
                [(i, "U", i % 5, f"d{i % 7}") for i in range(40)], events
            ),
            batch_id=0,
        )
        t.merge_batch(
            spark.createDataFrame(
                [(100 + i, "D", i % 5, f"d{i % 7}") for i in range(0, 40, 3)], events
            ),
            batch_id=1,
        )
        tables[name] = t
    assert tables["driver"].compact(buckets=[0, 2])["write_path"] == "driver"
    _on_spark(monkeypatch, lambda: tables["spark"].compact(buckets=[0, 2]))
    got = {}
    for name, t in tables.items():
        files = t.refresh().files
        assert {f.bucket for f in files if f.kind == "delta"} <= {1, 3}
        got[name] = {
            f.bucket: sorted(map(repr, pq.read_table(f"{t.root}/{f.path}").to_pylist()))
            for f in files
            if f.bucket in (0, 2)
        }
    assert got["driver"] == got["spark"]
    assert _rows(tables["driver"].read()) == _rows(tables["spark"].read())


def test_differing_tie_takes_the_spark_plan(spark, tmp_path, monkeypatch):
    """Rows that differ but carry the same max ``_seq`` (one seq delivered
    twice with different payloads): the window and the compaction fall back
    to Spark, whose ``max(struct(...))`` breaks the tie."""
    t = LakeTable.create(
        spark, str(tmp_path / "tbl"), DOC_SCHEMA, key_col="doc_id", n_buckets=1
    )
    t.merge_batch(_ev(spark, [(5, "U", "d1", [1], 1, "web", None)]), batch_id=0)
    t.merge_batch(
        _ev(spark, [(5, "U", "d1", [2], 1, "web", None), (6, "I", "d2", [2], 1, "web", None)]),
        batch_id=1,
    )
    rows = t.changes(0)
    assert not rows.isLocal()
    assert _rows(rows) == _rows(_on_spark(monkeypatch, lambda: t.changes(0)))
    calls, reduce = [], t._reduce
    monkeypatch.setattr(t, "_reduce", lambda *a: calls.append(1) or reduce(*a))
    t.compact()
    assert calls
    assert [tuple(r) for r in t.read().where("doc_id = 'd1'").collect()] == [
        ("d1", [2], 1, "web")
    ]


def test_patch_table_never_takes_the_driver_path(spark, tmp_path, monkeypatch):
    """A patch table's per-column overlay reduce stays on Spark: its
    window, compaction and lookups read no file on the driver."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        DOC_SCHEMA,
        key_col="doc_id",
        n_buckets=2,
        properties={"patch.enabled": "true"},
    )
    monkeypatch.setattr(t, "_read_arrow", lambda *a, **kw: pytest.fail("driver read"))
    t.merge_batch(_ev(spark, [(1, "I", "a", [1], 1, "web", None)]), batch_id=0)
    t.merge_batch(_ev(spark, [(2, "P", "a", None, None, "books", None)]), batch_id=1)
    rows = t.changes(0)
    assert not rows.isLocal()
    assert [(r["op"], r["source"]) for r in rows.collect()] == [("U", "books")]
    t.compact()
    assert t.lookup("a").collect()[0]["source"] == "books"
