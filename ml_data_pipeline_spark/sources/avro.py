"""Avro Object Container File reader/writer — from scratch, pure
Python, per the public Avro 1.x spec (reference S14: the declared-but-
unshipped Avro feature, ml-data-readers/Cargo.toml:12-18).

No spark-avro datasource jar ships in this sandbox, so the wire format
is implemented directly (magic ``Obj\\x01`` → file-metadata map with
``avro.schema``/``avro.codec`` → sync marker → blocks of
(count, byte-size, records, sync)), with the binary encoding's
zigzag-varint primitives. Supported schema subset: a record of
``null``-unioned primitives (boolean, int, long, float, double,
string, bytes) and arrays of int/long — exactly the shapes this
engine's tables use.

Distributed shape mirrors sources/arrow_ipc.py: the writer emits one
``.avro`` file per non-empty Spark partition via ``mapInPandas``; the
reader is ``binaryFile`` → ``mapInPandas`` parse (container files are
only block-splittable with sync-seeking, which a per-file reader at
many-files sharding doesn't need).
"""

from __future__ import annotations

import json
import os
import struct
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------- primitives


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(buf: bytearray, n: int) -> None:
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def read_long(mv: memoryview, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = mv[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            return _zigzag_decode(acc), pos
        shift += 7


def _write_bytes(buf: bytearray, b: bytes) -> None:
    write_long(buf, len(b))
    buf += b


def _read_bytes(mv: memoryview, pos: int) -> tuple[bytes, int]:
    n, pos = read_long(mv, pos)
    return bytes(mv[pos : pos + n]), pos + n


# ------------------------------------------------------------ schema mapping

_SPARK_TO_AVRO = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "bytes",
}


def avro_schema_json(schema: T.StructType, name: str = "row") -> str:
    """Spark StructType → Avro record schema (nullable = union with null)."""
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, T.ArrayType):
            el = _SPARK_TO_AVRO[type(f.dataType.elementType)]
            t: object = {"type": "array", "items": el}
        else:
            t = _SPARK_TO_AVRO[type(f.dataType)]
        fields.append({"name": f.name, "type": ["null", t]})
    return json.dumps({"type": "record", "name": name, "fields": fields})


def _encode_value(buf: bytearray, v, dt: T.DataType) -> None:
    # nullable union: branch index 0 = null, 1 = value
    if v is None or (isinstance(v, float) and v != v):
        write_long(buf, 0)
        return
    write_long(buf, 1)
    if isinstance(dt, T.BooleanType):
        buf.append(1 if v else 0)
    elif isinstance(dt, (T.IntegerType, T.LongType)):
        write_long(buf, int(v))
    elif isinstance(dt, T.FloatType):
        buf += struct.pack("<f", float(v))
    elif isinstance(dt, T.DoubleType):
        buf += struct.pack("<d", float(v))
    elif isinstance(dt, T.StringType):
        _write_bytes(buf, str(v).encode("utf-8"))
    elif isinstance(dt, T.BinaryType):
        _write_bytes(buf, bytes(v))
    elif isinstance(dt, T.ArrayType):
        items = list(v)
        if items:
            write_long(buf, len(items))
            for x in items:
                write_long(buf, int(x))
        write_long(buf, 0)
    else:  # pragma: no cover
        raise TypeError(f"unsupported avro type {dt}")


def _decode_value(mv: memoryview, pos: int, dt: T.DataType):
    branch, pos = read_long(mv, pos)
    if branch == 0:
        return None, pos
    if isinstance(dt, T.BooleanType):
        return bool(mv[pos]), pos + 1
    if isinstance(dt, (T.IntegerType, T.LongType)):
        n, pos = read_long(mv, pos)
        return n, pos
    if isinstance(dt, T.FloatType):
        return struct.unpack_from("<f", mv, pos)[0], pos + 4
    if isinstance(dt, T.DoubleType):
        return struct.unpack_from("<d", mv, pos)[0], pos + 8
    if isinstance(dt, T.StringType):
        b, pos = _read_bytes(mv, pos)
        return b.decode("utf-8"), pos
    if isinstance(dt, T.BinaryType):
        return _read_bytes(mv, pos)
    if isinstance(dt, T.ArrayType):
        out: list[int] = []
        while True:
            n, pos = read_long(mv, pos)
            if n == 0:
                return out, pos
            if n < 0:  # block with byte-size prefix
                n = -n
                _, pos = read_long(mv, pos)
            for _ in range(n):
                x, pos = read_long(mv, pos)
                out.append(x)
    raise TypeError(f"unsupported avro type {dt}")  # pragma: no cover


# ------------------------------------------------------------ container file


def _container(
    schema: T.StructType, n_rows: int, block: bytes, sync: bytes | None
) -> bytes:
    """Frame one encoded row block as an Avro Object Container File
    (null codec): header, then the block when it holds rows. The
    16-byte sync marker is random when not given."""
    sync = sync or uuid.uuid4().bytes
    if len(sync) != 16:
        raise ValueError(f"avro sync marker must be 16 bytes, got {len(sync)}")
    buf = bytearray()
    buf += MAGIC
    meta = {
        "avro.schema": avro_schema_json(schema).encode(),
        "avro.codec": b"null",
    }
    write_long(buf, len(meta))
    for k, v in meta.items():
        _write_bytes(buf, k.encode())
        _write_bytes(buf, v)
    write_long(buf, 0)  # end of metadata map
    buf += sync
    if n_rows:
        write_long(buf, n_rows)
        write_long(buf, len(block))
        buf += block
        buf += sync
    return bytes(buf)


def write_avro_bytes(
    rows: list[tuple], schema: T.StructType, sync: bytes | None = None
) -> bytes:
    """Encode rows as one Avro Object Container File (null codec)."""
    block = bytearray()
    for row in rows:
        for v, f in zip(row, schema.fields):
            _encode_value(block, v, f.dataType)
    return _container(schema, len(rows), block, sync)


def _encode_block_numpy(pdf, schema: T.StructType) -> bytes | None:
    """Vectorized Avro binary block encode for all-primitive schemas.

    Byte-for-byte identical to the per-row ``_encode_value`` loop
    (same nullable-union prefix, same zigzag varints, same IEEE bytes)
    but built with numpy byte-plane writes: per column and per byte
    position one masked assignment, so the Python-level work is
    O(columns × max_cell_bytes) instead of O(rows × columns).
    Strings are factorized and encoded once per DISTINCT value.

    Returns None when a column's type (arrays, binary) or shape
    (distinct strings longer than the plane cap) isn't covered — the
    caller falls back to the exact row loop.
    """
    import numpy as np
    import pandas as pd

    n = len(pdf)
    if n == 0:
        return b""
    lengths = []  # per column: int64[n] total cell bytes (incl. union byte)
    planes = []  # per column: list of (plane_index, dst_mask, byte_values)
    for f in schema.fields:
        s = pdf[f.name]
        null = pd.isna(s).to_numpy()
        dt = f.dataType
        if isinstance(dt, (T.IntegerType, T.LongType)):
            v = s.fillna(0).to_numpy()
            v = v.astype(np.int64, copy=False)
            z = ((v.astype(np.uint64) << np.uint64(1)) ^
                 (v >> np.int64(63)).astype(np.uint64))
            # varint group count: smallest g >= 1 with z < 2^(7g)
            nb = np.ones(n, dtype=np.int64)
            for g in range(1, 10):
                nb += (z >= np.uint64(1) << np.uint64(7 * g)).astype(np.int64)
            ln = np.where(null, 1, 1 + nb)
            col_planes = []
            for j in range(int(nb.max())):
                mask = (~null) & (nb > j)
                b = (z >> np.uint64(7 * j)).astype(np.uint64) & np.uint64(0x7F)
                more = nb > (j + 1)
                b = b | np.where(more, np.uint64(0x80), np.uint64(0))
                col_planes.append((1 + j, mask, b.astype(np.uint8)))
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            wide = isinstance(dt, T.DoubleType)
            npt, bits = (np.float64, 8) if wide else (np.float32, 4)
            v = s.to_numpy(dtype=npt, na_value=0.0)
            raw = v.view(np.uint64 if wide else np.uint32)
            ln = np.where(null, 1, 1 + bits)
            col_planes = []
            for j in range(bits):
                b = (raw >> type(raw[0])(8 * j)).astype(np.uint8)
                col_planes.append((1 + j, ~null, b))
        elif isinstance(dt, T.BooleanType):
            v = s.fillna(False).to_numpy().astype(np.uint8)
            ln = np.where(null, 1, 2)
            col_planes = [(1, ~null, v)]
        elif isinstance(dt, T.StringType):
            codes, uniques = pd.factorize(s)
            encs = []
            maxlen = 0
            for u in uniques:
                ub = str(u).encode("utf-8")
                head = bytearray()
                write_long(head, len(ub))
                encs.append(bytes(head) + ub)
                maxlen = max(maxlen, len(encs[-1]))
            if maxlen > 512 or len(uniques) * max(1, maxlen) > 64 << 20:
                return None  # fall back: huge/very-distinct strings
            mat = np.zeros((max(1, len(uniques)), maxlen or 1), dtype=np.uint8)
            elens = np.zeros(max(1, len(uniques)), dtype=np.int64)
            for i, e in enumerate(encs):
                mat[i, : len(e)] = np.frombuffer(e, dtype=np.uint8)
                elens[i] = len(e)
            safe = np.where(codes < 0, 0, codes)
            cell = elens[safe]
            ln = np.where(null, 1, 1 + cell)
            col_planes = []
            for j in range(maxlen):
                mask = (~null) & (cell > j)
                col_planes.append((1 + j, mask, mat[safe, j]))
        else:
            return None  # arrays/binary: exact row loop handles them
        planes.append(col_planes)
        lengths.append(ln)

    L = np.stack(lengths, axis=1)  # (n, k)
    row_total = L.sum(axis=1)
    row_start = np.zeros(n, dtype=np.int64)
    np.cumsum(row_total[:-1], out=row_start[1:])
    # cell start offsets per column
    cell_start = np.empty((n, L.shape[1]), dtype=np.int64)
    acc = row_start.copy()
    for c in range(L.shape[1]):
        cell_start[:, c] = acc
        acc = acc + L[:, c]
    out = np.zeros(int(row_total.sum()), dtype=np.uint8)
    for c, (f, col_planes) in enumerate(zip(schema.fields, planes)):
        base = cell_start[:, c]
        # union-branch byte: zigzag(1)=0x02 present, zigzag(0)=0x00 null
        null = L[:, c] == 1
        out[base] = np.where(null, 0, 2).astype(np.uint8)
        for j, mask, b in col_planes:
            out[base[mask] + j] = b[mask]
    return out.tobytes()


def write_avro_pandas(
    pdf, schema: T.StructType, sync: bytes | None = None
) -> bytes:
    """Container-file encode of a pandas DataFrame: numpy fast path
    for primitive schemas, exact row-loop fallback otherwise."""
    # Align columns to the SCHEMA order first: the fast path resolves
    # fields by name, but the row-loop fallback zips tuples with
    # schema.fields positionally — without this reorder the two paths
    # would encode different data for a reordered DataFrame.
    pdf = pdf[[f.name for f in schema.fields]]
    block = _encode_block_numpy(pdf, schema)
    if block is None:
        return write_avro_bytes(
            list(pdf.itertuples(index=False, name=None)), schema, sync
        )
    return _container(schema, len(pdf), block, sync)


def read_avro_bytes(blob: bytes, schema: T.StructType) -> list[tuple]:
    """Decode one Avro Object Container File (null codec)."""
    mv = memoryview(blob)
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("not an avro container file")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = read_long(mv, pos)
        if n == 0:
            break
        if n < 0:
            n = -n
            _, pos = read_long(mv, pos)
        for _ in range(n):
            k, pos = _read_bytes(mv, pos)
            v, pos = _read_bytes(mv, pos)
            meta[k.decode()] = v
    codec = meta.get("avro.codec", b"null")
    if codec not in (b"null", b"deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    sync = bytes(mv[pos : pos + 16])
    pos += 16
    out: list[tuple] = []
    n_total = len(blob)
    while pos < n_total:
        count, pos = read_long(mv, pos)
        size, pos = read_long(mv, pos)
        block = mv[pos : pos + size]
        pos += size
        if codec == b"deflate":
            import zlib

            block = memoryview(zlib.decompress(bytes(block), -15))
        bp = 0
        for _ in range(count):
            row = []
            for f in schema.fields:
                v, bp = _decode_value(block, bp, f.dataType)
                row.append(v)
            out.append(tuple(row))
        if bytes(mv[pos : pos + 16]) != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
        pos += 16
    return out


# ------------------------------------------------------------- Spark surface


def write_avro(df: DataFrame, out_dir: str) -> None:
    """One .avro container file per non-empty partition (executor-side)."""
    os.makedirs(out_dir, exist_ok=True)
    schema = df.schema

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        # Deterministic final name + temp-write + atomic rename: a
        # retried/speculative attempt republishes the same file rather
        # than adding a duplicate (see arrow_ipc.write_ipc).
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.avro")
        tmp = os.path.join(out_dir, f".part-{pid:05d}-{uuid.uuid4().hex}.tmp")
        # Vectorized block encode when the schema allows (byte-for-byte
        # the row loop's output — see _encode_block_numpy).
        blob = write_avro_pandas(pdf, schema)
        rows_n = len(pdf)
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        yield pd.DataFrame({"path": [path], "rows": [rows_n]})

    df.mapInPandas(_write, "path string, rows long").collect()


def read_avro(
    spark: SparkSession, path_glob: str, schema: T.StructType
) -> DataFrame:
    """Distributed Avro container scan: binaryFile + pure-Python decode."""
    files = spark.read.format("binaryFile").load(path_glob)
    names = [f.name for f in schema.fields]

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                rows = read_avro_bytes(bytes(content), schema)
                yield pd.DataFrame(rows, columns=names)

    return files.select("content").mapInPandas(_parse, schema)


def avro_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: events → distributed Avro write →
    distributed Avro read → aggregate; lossless roundtrip ⇒ the oracle
    aggregates the original parquet."""
    import tempfile
    import shutil

    from pyspark.sql import functions as F

    from ml_data_pipeline_spark.sources.tables import load_table_spread

    # Spread: the write is a per-partition Python encode — on the
    # single-row-group testdata the whole 1M-row container would
    # otherwise be encoded (and later decoded, one file) on one core.
    e = load_table_spread(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = os.path.join(
        tempfile.gettempdir(), f"avro-roundtrip-{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(out, ignore_errors=True)
    write_avro(e, out)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = read_avro(spark, os.path.join(out, "*.avro"), schema)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_id"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .orderBy("event_type")
    )
