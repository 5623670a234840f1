"""Type-fidelity guard for the single-pass Arrow parquet writer.

The round-4 writer replaces Spark's parquet datasource with a
pyarrow pipeline (lake/table.py::_write_files), run on the driver for
small input and in mapInArrow tasks otherwise. Every
Spark SQL type the lake can carry must survive the Spark→Arrow→
parquet→Spark round trip bit-exactly under the snapshot's storage
schema — a silent coercion (timestamp tz flag, decimal scale, nested
nullability) would corrupt tables far from the code that caused it.
"""

from __future__ import annotations

import contextlib
import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml_data_pipeline_spark.lake.table import LakeTable

WIDE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("c_byte", T.ByteType()),
        T.StructField("c_short", T.ShortType()),
        T.StructField("c_int", T.IntegerType()),
        T.StructField("c_long", T.LongType()),
        T.StructField("c_float", T.FloatType()),
        T.StructField("c_double", T.DoubleType()),
        T.StructField("c_bool", T.BooleanType()),
        T.StructField("c_binary", T.BinaryType()),
        T.StructField("c_date", T.DateType()),
        T.StructField("c_ts_ntz", T.TimestampNTZType()),
        T.StructField("c_ts_ltz", T.TimestampType()),
        T.StructField("c_decimal", T.DecimalType(18, 4)),
        T.StructField("c_arr_int", T.ArrayType(T.IntegerType())),
        T.StructField("c_arr_str", T.ArrayType(T.StringType())),
        T.StructField("c_struct", T.StructType([
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType()),
        ])),
        # NOTE: MapType is deliberately absent — the lake's LWW reduce
        # is max(struct(_seq, payload...)) and Spark cannot ORDER maps
        # (DATATYPE_MISMATCH.INVALID_ORDERING_TYPE), so maps are not a
        # supported lake payload type; store array<struct<k,v>>.
    ]
)

ROWS = [
    (
        "k1",
        127,
        -32768,
        2**31 - 1,
        -(2**62),
        1.5,
        3.141592653589793,
        True,
        b"\x00\xff\x10bytes",
        dt.date(1999, 12, 31),
        dt.datetime(2024, 2, 29, 23, 59, 59, 123456),
        dt.datetime(2020, 6, 15, 12, 30, 45, 654321),
        Decimal("12345678901234.5678"),
        [1, None, 3],
        ["x", "", None],
        (7, "inner"),
    ),
    (
        "k2",
        None, None, None, None, None, None, None, None, None, None,
        None, None, None, None, None,
    ),
    (
        "k3",
        0,
        0,
        0,
        0,
        float("inf"),
        -0.0,
        False,
        b"",
        dt.date(1970, 1, 1),
        dt.datetime(1970, 1, 1, 0, 0, 0),
        dt.datetime(1970, 1, 1, 0, 0, 1),
        Decimal("0.0001"),
        [],
        [],
        (None, None),
    ),
]


@pytest.mark.parametrize("path", ["driver", "executors"])
def test_every_lake_type_roundtrips_exactly(spark, tmp_path, split_bytes, path):
    """Both write paths: the driver's (a frame with a known size within
    one split; here an Arrow-backed local relation) and the executors'
    (a split smaller than any input)."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "wide"),
        WIDE_SCHEMA,
        key_col="doc_id",
        n_buckets=4,
    )
    df = spark.createDataFrame(ROWS, WIDE_SCHEMA)
    src = df
    if path == "driver":
        # a frame built from a Python list has no size estimate
        src = spark.createDataFrame(df.toArrow(), WIDE_SCHEMA)
    events = src.select(
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("seq"), "*"
    )

    def split():
        return split_bytes("512") if path == "executors" else contextlib.nullcontext()

    with split():
        assert t.merge_batch(events, batch_id=0, exclude_cols=())["write_path"] == path

    back = t.read()
    # types identical field-for-field (the lake normalizes the key
    # column to nullable in its snapshot schema — a metadata choice,
    # not a data-fidelity issue)
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in WIDE_SCHEMA.fields
    ]
    got = {r["doc_id"]: r for r in back.collect()}
    want = {r["doc_id"]: r for r in df.collect()}
    assert set(got) == set(want)
    for k in want:
        for f in WIDE_SCHEMA.fieldNames():
            assert got[k][f] == want[k][f], (k, f, got[k][f], want[k][f])

    # and the values survive a compaction rewrite through the same
    # writer as well
    with split():
        assert t.compact()["write_path"] == path
    got2 = {r["doc_id"]: r for r in t.read().collect()}
    for k in want:
        for f in WIDE_SCHEMA.fieldNames():
            assert got2[k][f] == want[k][f], ("post-compact", k, f)


MAP_MSG = "not a lake payload type"


def test_maptype_rejected_loudly_at_create(spark, tmp_path):
    from ml_data_pipeline_spark.lake.schema_evolution import SchemaMismatch

    bad = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField(
                "attrs", T.MapType(T.StringType(), T.IntegerType())
            ),
        ]
    )
    with pytest.raises(SchemaMismatch, match=MAP_MSG):
        LakeTable.create(
            spark, str(tmp_path / "m1"), bad, key_col="doc_id"
        )
    # nested maps (inside array/struct) are caught too
    nested = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField(
                "xs",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField(
                                "m",
                                T.MapType(T.StringType(), T.LongType()),
                            )
                        ]
                    )
                ),
            ),
        ]
    )
    with pytest.raises(SchemaMismatch, match=MAP_MSG):
        LakeTable.create(
            spark, str(tmp_path / "m2"), nested, key_col="doc_id"
        )


def test_maptype_rejected_at_schema_evolution(spark, tmp_path):
    from ml_data_pipeline_spark.lake.schema_evolution import SchemaMismatch

    base = T.StructType([T.StructField("doc_id", T.StringType(), False)])
    t = LakeTable.create(
        spark, str(tmp_path / "evo"), base, key_col="doc_id"
    )
    ev_schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField(
                "attrs", T.MapType(T.StringType(), T.IntegerType())
            ),
        ]
    )
    events = spark.createDataFrame(
        [("I", 1, "k1", {"a": 1})], ev_schema
    )
    with pytest.raises(SchemaMismatch, match=MAP_MSG):
        t.merge_batch(events, batch_id=0, exclude_cols=())


def test_canonical_map_encoding_through_lww_reduce(spark, tmp_path):
    """The documented MapType story end-to-end: map_to_entries on
    write (key-sorted, insertion-order independent), LWW merge over
    the encoded column, entries_to_map on read."""
    from ml_data_pipeline_spark.lake.schema_evolution import (
        entries_to_map,
        map_to_entries,
    )

    enc_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField(
                "attrs",
                T.ArrayType(
                    T.StructType(
                        [
                            # nullable: nested NOT NULL can't survive
                            # the parquet read-back cast, and the
                            # encoding doesn't need the constraint
                            T.StructField("key", T.StringType(), True),
                            T.StructField("value", T.IntegerType()),
                        ]
                    )
                ),
            ),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "enc"), enc_schema, key_col="doc_id"
    )

    map_schema = "doc_id string, attrs map<string,int>"
    # same map content, different insertion order -> identical encoding
    a = spark.createDataFrame([("k1", {"x": 1, "y": 2})], map_schema)
    b = spark.createDataFrame([("k1", {"y": 2, "x": 1})], map_schema)
    enc = lambda df: df.select(  # noqa: E731
        "doc_id", map_to_entries(F.col("attrs")).alias("attrs")
    )
    assert enc(a).collect() == enc(b).collect()

    ev = lambda df, seq: df.select(  # noqa: E731
        F.lit("U").alias("op"), F.lit(seq).cast("long").alias("seq"), "*"
    )
    t.merge_batch(ev(enc(a), 1), batch_id=0, exclude_cols=())
    upd = spark.createDataFrame([("k1", {"z": 9, "x": 5})], map_schema)
    t.merge_batch(
        ev(enc(upd), 2), batch_id=1, exclude_cols=()
    )
    # late lower-seq update must lose
    late = spark.createDataFrame([("k1", {"stale": 0})], map_schema)
    t.merge_batch(
        ev(enc(late), 1), batch_id=2, exclude_cols=()
    )

    out = t.read().select(
        "doc_id", entries_to_map(F.col("attrs")).alias("attrs")
    )
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == "k1"
    assert dict(rows[0]["attrs"]) == {"x": 5, "z": 9}
