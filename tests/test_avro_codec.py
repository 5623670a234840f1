"""Pure-Python Avro Object Container File codec (reference S14)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from ml_data_pipeline_spark.sources.avro import (
    read_avro_bytes,
    read_long,
    write_avro_bytes,
    write_long,
)

SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("arr", T.ArrayType(T.IntegerType())),
    ]
)


def test_zigzag_varint_roundtrip():
    vals = [0, 1, -1, 63, 64, -64, -65, 2**31, -(2**31), 2**62, -(2**62)]
    buf = bytearray()
    for v in vals:
        write_long(buf, v)
    mv, pos, out = memoryview(bytes(buf)), 0, []
    for _ in vals:
        v, pos = read_long(mv, pos)
        out.append(v)
    assert out == vals


def test_container_roundtrip_with_nulls_and_arrays():
    rows = [
        (1, "hello", 3.14, True, [1, 2, 3]),
        (None, None, None, None, None),
        (-99, "émoji ✓", -0.0, False, []),
        (2**40, "", 1e308, True, [0, -5, 50257]),
    ]
    got = read_avro_bytes(write_avro_bytes(rows, SCHEMA), SCHEMA)
    assert len(got) == len(rows)
    for g, w in zip(got, rows):
        assert g[:4] == w[:4]
        assert (g[4] is None and w[4] is None) or list(g[4]) == list(w[4])


def test_empty_file_and_corrupt_sync():
    assert read_avro_bytes(write_avro_bytes([], SCHEMA), SCHEMA) == []
    blob = bytearray(write_avro_bytes([(1, "x", 1.0, True, [1])], SCHEMA))
    blob[-1] ^= 0xFF  # flip a sync byte
    with pytest.raises(ValueError, match="sync"):
        read_avro_bytes(bytes(blob), SCHEMA)
    with pytest.raises(ValueError, match="not an avro"):
        read_avro_bytes(b"PAR1xxxx", SCHEMA)


def test_short_sync_marker_rejected():
    """A sync marker that is not 16 bytes is refused with ValueError by
    both container encoders (a check ``python -O`` cannot strip)."""
    import pandas as pd

    from ml_data_pipeline_spark.sources.avro import write_avro_pandas

    with pytest.raises(ValueError, match="16 bytes"):
        write_avro_bytes([(1, "x", 1.0, True, [1])], SCHEMA, sync=b"\x01" * 15)
    flat = T.StructType([T.StructField("a", T.LongType())])
    with pytest.raises(ValueError, match="16 bytes"):
        write_avro_pandas(pd.DataFrame({"a": [1, 2]}), flat, sync=b"\x01" * 15)


def test_numpy_block_encoder_byte_identical_to_row_loop():
    """Round-6: the vectorized block encoder must produce BYTE-FOR-BYTE
    the row loop's container output — nullable unions, zigzag varints,
    IEEE planes, factorized strings — across nulls, NaN, int64
    extremes, unicode and empty strings; and unsupported schemas
    (arrays) must fall back to the row loop."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ml_data_pipeline_spark.sources.avro import (
        read_avro_bytes,
        write_avro_bytes,
        write_avro_pandas,
    )

    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.IntegerType()),
            T.StructField("c", T.DoubleType()),
            T.StructField("d", T.StringType()),
            T.StructField("e", T.BooleanType()),
            T.StructField("f", T.FloatType()),
        ]
    )
    rng = np.random.default_rng(3)
    n = 2000
    pdf = pd.DataFrame(
        {
            "a": rng.integers(-(2**62), 2**62, n),
            "b": rng.integers(-(2**31), 2**31 - 1, n).astype("int64"),
            "c": rng.normal(size=n),
            "d": rng.choice(
                ["click", "purchase", "", "日本語テスト", "x" * 200], n
            ),
            "e": rng.choice([True, False], n),
            "f": rng.normal(size=n).astype("float32"),
        }
    )
    pdf.loc[::17, "c"] = float("nan")
    pdf.loc[::13, "d"] = None
    edge = pd.DataFrame(
        {
            "a": [0, -1, 1, 2**63 - 1, -(2**63), 63, -64, 64, -65],
            "b": [0, -1, 2**31 - 1, -(2**31), 1, 127, -128, 128, 5],
            "c": [0.0, -0.0, float("inf"), float("-inf"), 1e308,
                  5e-324, float("nan"), 2.5, -2.5],
            "d": ["", "a", "ab" * 100, None, "z", "y", "w", "v", "u"],
            "e": [True, False] * 4 + [True],
            "f": np.array([0.0, -0.0, 1.5, -1.5, float("inf"), 3.4e38,
                           float("nan"), 1e-30, 2.0], dtype="float32"),
        }
    ).astype({"a": "int64", "b": "int64", "c": "float64", "f": "float32"})
    sync = b"0123456789abcdef"
    for frame in (pdf, edge):
        slow = write_avro_bytes(
            list(frame.itertuples(index=False, name=None)), schema, sync
        )
        fast = write_avro_pandas(frame, schema, sync)
        assert fast == slow
        assert len(read_avro_bytes(fast, schema)) == len(frame)

    # array column -> fast path declines, fallback still encodes
    arr_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("t", T.ArrayType(T.IntegerType())),
        ]
    )
    apdf = pd.DataFrame({"k": [1, 2], "t": [[1, 2, 3], None]})
    slow = write_avro_bytes(
        list(apdf.itertuples(index=False, name=None)), arr_schema, sync
    )
    fast = write_avro_pandas(apdf, arr_schema, sync)
    assert fast == slow
