"""Schema evolution arriving mid-stream (FIXTURES.md A3 variants).

The change log starts in v1 (base columns) and later chunks add a
`lang` column / widen `n_tok` to int64. Spark's streaming source pins
its schema at start, so the replay runs with the *superset* schema —
the detect→widen→commit step happens inside the apply (the reference's
compatibility lattice, ml-data-core/src/schema.rs:206-253). Batch-path
tests in test_lake_table.py cover per-batch evolution; this covers the
streaming protocol end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml_data_pipeline_spark.cdc.apply import create_docs_table
from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA, generate_change_stream
from ml_data_pipeline_spark.cdc.oracle import (
    assert_state_equal,
    expected_state,
    load_events_pandas,
)
from ml_data_pipeline_spark.cdc.stream import run_replay


def test_streaming_replay_with_added_column(spark, tmp_path):
    ev_dir = str(tmp_path / "events")
    # v1 chunks without `lang`, then v2 chunks with it: generate the
    # two epochs into the same directory (delivery order = append order).
    generate_change_stream(
        spark, ev_dir, 200, 1500, n_chunks=2, seed=42, extra_cols=False
    )
    generate_change_stream(
        spark, ev_dir, 200, 1500, n_chunks=2, seed=43, extra_cols=True,
        seq_start=1500,  # continuous LSN space across epochs
    )
    v2_schema = T.StructType(
        CHANGE_SCHEMA.fields + [T.StructField("lang", T.StringType(), True)]
    )
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    run_replay(
        spark,
        t.root,
        ev_dir,
        str(tmp_path / "ckpt"),
        schema=v2_schema,  # superset schema for the pinned stream
        max_files_per_trigger=2,
    )
    t.refresh()
    assert "lang" in t.schema.fieldNames()
    expected = expected_state(load_events_pandas(ev_dir))
    actual = t.read().toPandas()
    assert_state_equal(
        actual, expected, extra_cols=("n_tok", "source", "lang")
    )


def test_streaming_replay_with_widened_n_tok(spark, tmp_path):
    ev_dir = str(tmp_path / "events")
    generate_change_stream(spark, ev_dir, 150, 1000, n_chunks=2, seed=42)
    wide_schema = T.StructType(
        [
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok", T.LongType()),  # widened
            T.StructField("source", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t = create_docs_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    run_replay(
        spark,
        t.root,
        ev_dir,
        str(tmp_path / "ckpt"),
        schema=wide_schema,
        max_files_per_trigger=2,
    )
    t.refresh()
    assert isinstance(t.schema["n_tok"].dataType, T.LongType)
    expected = expected_state(load_events_pandas(ev_dir))
    assert_state_equal(t.read().toPandas(), expected)
    # n_tok invariant survives the widening
    bad = t.read().where(F.col("n_tok") != F.size("tokens")).count()
    assert bad == 0


def test_array_element_widening_tokens_int_to_long(spark, tmp_path):
    """The north rule's central type evolves: tokens array<int> →
    array<long> through merge_batch. The element-wise widening lattice
    (schema_evolution.merge_types) must (a) evolve the snapshot
    schema, (b) keep pre-evolution rows readable (cast on read), and
    (c) keep the LWW reduce exact across the boundary."""
    from pyspark.sql import functions as F

    from ml_data_pipeline_spark.lake.table import LakeTable

    base = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "wide_arr"), base, key_col="doc_id",
        n_buckets=2,
    )

    def ev(rows, schema, seq):
        df = spark.createDataFrame(rows, schema)
        return df.select(
            F.lit("U").alias("op"),
            F.lit(seq).cast("long").alias("seq"),
            "*",
        )

    t.merge_batch(
        ev([("a", [1, 2]), ("b", [3])], "doc_id string, tokens array<int>", 1),
        batch_id=0, exclude_cols=(),
    )
    # epoch 2: values only a long can hold
    t.merge_batch(
        ev(
            [("b", [2**40, 7]), ("c", [-(2**35)])],
            "doc_id string, tokens array<long>",
            2,
        ),
        batch_id=1, exclude_cols=(),
    )
    t.refresh()
    assert t.schema["tokens"].dataType == T.ArrayType(T.LongType(), True)
    got = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert got == {"a": [1, 2], "b": [2**40, 7], "c": [-(2**35)]}
    # late lower-seq update in the OLD narrow type must lose
    t.merge_batch(
        ev([("b", [9])], "doc_id string, tokens array<int>", 1),
        batch_id=2, exclude_cols=(),
    )
    t.refresh()
    got2 = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert got2["b"] == [2**40, 7]
    # compaction rewrites mixed-width files under the widened schema
    t.compact()
    got3 = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert got3 == got2 | {"a": [1, 2]}
