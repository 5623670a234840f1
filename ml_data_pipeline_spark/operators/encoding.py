"""Source/sink + encoding parity operators (reference S1/S3/S7, K2,
T5/T6/T7).

These demonstrate the reference's reader/writer/encoding surface as
Spark-native round trips whose results are oracle-checkable against
the original parquet tables (a lossless roundtrip must agree).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ml_data_pipeline_spark.sources.tables import load_table


def csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV writer + typed reader roundtrip (reference S1 CSV scan with
    options, csv/reader.rs:22-46; K2 writer, csv/writer.rs:14-221):
    write events to CSV with header/quoting, read back with an explicit
    schema, aggregate. Lossless roundtrip ⇒ equals the parquet oracle.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = os.path.join(
        tempfile.gettempdir(), f"csv-roundtrip-{os.path.basename(sf_dir)}"
    )
    e.write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = spark.read.option("header", True).schema(schema).csv(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .orderBy("event_type")
    )


N_TEXT_BUCKETS = 4


def text_line_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text/line reader with per-file line numbers (reference S7,
    text.rs:321-513 emits (line_number, text)).

    Scale shape: the corpus is sharded into ``N_TEXT_BUCKETS`` text
    files (deterministic md5 bucket of doc_id, doc_id-sorted within
    each), and line numbers are PER FILE — a window partitioned by the
    file, never a global single-partition sort. At 100 TB global line
    numbers are an anti-pattern (one reducer); per-file offsets are
    what a real line reader tracks (the reference numbers lines per
    reader, one reader per file).
    """
    d = load_table(spark, sf_dir, "documents")
    out = os.path.join(
        tempfile.gettempdir(), f"text-lines-{os.path.basename(sf_dir)}"
    )
    # Oracle-portable bucket: first md5 hex digit of doc_id, mod 4.
    bucket = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - 1
    ) % N_TEXT_BUCKETS
    # Each line carries its own offset key (doc_id + unit separator):
    # line numbers are then derivable from line CONTENT, not from read
    # order — a bucket file larger than maxPartitionBytes splits into
    # several read partitions whose packing does not follow file
    # order, so ordering by monotonically_increasing_id silently
    # misnumbers at scale. Real line readers track offsets the same
    # way (byte offset per record, not partition arrival order).
    sep = "\x1f"
    (
        d.select(
            bucket.cast("int").alias("bucket"),
            F.concat(F.col("doc_id").cast("string"), F.lit(sep), F.col("text")).alias(
                "value"
            ),
        )
        # one shuffle keyed by bucket → one file per bucket directory
        .repartition(F.col("bucket"))
        .select("bucket", "value")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .text(out)
    )
    lines = spark.read.text(out)  # partition discovery restores bucket
    key = F.substring_index(F.col("value"), sep, 1)
    w = Window.partitionBy("bucket").orderBy(key.cast("long"))
    numbered = lines.select(
        F.col("bucket").cast("int").alias("bucket"),
        (F.row_number().over(w) - 1).alias("line_number"),
        (F.length("value") - F.length(key) - 1).alias("line_len"),
    )
    return numbered.orderBy("bucket", "line_number")


def json_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines writer + schema'd reader roundtrip (reference S14:
    the declared-but-unshipped JSON feature, ml-data-readers/
    Cargo.toml:12-18, src/lib.rs:18-21 — demonstrated here as a real
    source): write events as JSONL, read back with an explicit schema
    and a PERMISSIVE corrupt-record column, aggregate. A lossless
    roundtrip ⇒ equals the parquet oracle; ``n_corrupt`` pins the
    corrupt-record contract (0 on clean data).
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = os.path.join(
        tempfile.gettempdir(), f"json-roundtrip-{os.path.basename(sf_dir)}"
    )
    e.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
            F.count("_corrupt").alias("n_corrupt"),
        )
        .orderBy("event_type")
    )


DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def jdbc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC source/sink roundtrip against an embedded Derby database
    (the Derby driver ships in Spark's jars) — reference S14's declared
    JDBC feature, demonstrated for real: write events over JDBC, read
    them back with spark.read.jdbc, aggregate. Lossless roundtrip ⇒
    equals the parquet oracle.

    Scale note: a real deployment reads JDBC with partitionColumn/
    numPartitions range splits; embedded Derby is the sandbox stand-in
    (single process), the Spark surface is identical.
    """
    # Keep Derby's log out of the repo/cwd.
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(tempfile.gettempdir(), "derby.log")
    )
    # Plain load (no spread): the write is coalesce(1) by Derby's
    # single-writer constraint, so a prior repartition would be a pure
    # extra shuffle feeding one task anyway.
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    db = os.path.join(
        tempfile.gettempdir(), f"derby-db-{os.path.basename(sf_dir)}"
    )
    url = f"jdbc:derby:{db};create=true"
    (
        # Embedded Derby serializes concurrent writers on a table lock
        # — measured 8.3 s (1 connection) vs 18.7 s (12) for the same
        # 1M rows — so write over ONE connection with large batches.
        # A production JDBC sink inverts this: numPartitions sized to
        # the database's real ingest parallelism.
        e.coalesce(1)
        .write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", "events_rt")
        .option("driver", DERBY_DRIVER)
        # 50k-row batches: measured 7.6 s (10k) vs 5.9 s (50k) for the
        # same 1M-row single-connection write at sf1.
        .option("batchsize", "50000")
        .save()
    )
    # Range-split bounds from the REAL key range (one metadata-cheap
    # min/max over the parquet source): the former fixed upperBound of
    # 1e9 put every actual event_id (< ~1M per sf) into the first of 4
    # range partitions — a single-threaded read dressed up as a
    # parallel one. Real JDBC readers derive bounds the same way
    # (SELECT min/max) before splitting.
    lo, hi = e.agg(
        F.min("event_id"), F.max("event_id")
    ).first()
    if lo is None or hi is None:  # empty table: any non-degenerate range
        lo, hi = 0, 1
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "events_rt")
        .option("driver", DERBY_DRIVER)
        # the production read path: range-split the scan
        .option("partitionColumn", "event_id")
        .option("lowerBound", str(int(lo)))
        .option("upperBound", str(int(hi) + 1))
        .option("numPartitions", "8")
        .load()
    )
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


# Reference boolean synonyms (csv/parser.rs:221-236).
BOOL_TRUE = frozenset({"true", "1", "yes", "y", "t"})
BOOL_FALSE = frozenset({"false", "0", "no", "n", "f"})
INFER_SAMPLE_ROWS = 1000


def infer_csv_schema(
    spark: SparkSession, path: str, sample_rows: int = INFER_SAMPLE_ROWS
) -> T.StructType:
    """CSV schema inference with reference-parity voting (common.rs:
    204-239): sample up to ``sample_rows`` rows and vote each column
    Int64 → Float64 → Boolean → String, with boolean synonyms
    true/1/yes/y/t (and their negatives). The sample is driver-side and
    bounded — exactly what the reference does; the subsequent typed
    read is fully distributed.

    Spark's own ``inferSchema`` never votes Boolean from synonyms;
    this closes that parity gap.
    """
    raw = spark.read.option("header", True).csv(path)
    sample = raw.limit(sample_rows).collect()

    # Validate with strict regexes, NOT Python int()/float(): the
    # Python constructors accept forms Spark's typed CSV parser does
    # not ('1_0', 'nan', 'inf', '+5', ' 7 ') — voting a column
    # Long/Double on such samples would make the subsequent typed read
    # return silent nulls for them.
    import re

    _INT_RE = re.compile(r"^-?\d+$")
    _FLOAT_RE = re.compile(r"^-?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$")

    def _is_int(v: str) -> bool:
        return bool(_INT_RE.match(v)) and -(2**63) <= int(v) < 2**63

    def _is_float(v: str) -> bool:
        return bool(_FLOAT_RE.match(v))

    fields = []
    for col in raw.columns:
        vals = [r[col] for r in sample if r[col] is not None]
        if vals and all(_is_int(v) for v in vals):
            dt: T.DataType = T.LongType()
        elif vals and all(_is_float(v) for v in vals):
            dt = T.DoubleType()
        elif vals and all(
            v.lower() in BOOL_TRUE or v.lower() in BOOL_FALSE for v in vals
        ):
            dt = T.BooleanType()
        else:
            dt = T.StringType()
        fields.append(T.StructField(col, dt))
    return T.StructType(fields)


def read_csv_inferred(spark: SparkSession, path: str) -> DataFrame:
    """Typed CSV read using ``infer_csv_schema``. Boolean columns are
    read as strings and cast through the synonym table (Spark's CSV
    parser only accepts true/false natively)."""
    schema = infer_csv_schema(spark, path)
    read_schema = T.StructType(
        [
            T.StructField(
                f.name,
                T.StringType()
                if isinstance(f.dataType, T.BooleanType)
                else f.dataType,
            )
            for f in schema.fields
        ]
    )
    df = spark.read.option("header", True).schema(read_schema).csv(path)
    for f in schema.fields:
        if isinstance(f.dataType, T.BooleanType):
            low = F.lower(F.col(f.name))
            df = df.withColumn(
                f.name,
                F.when(low.isin(*BOOL_TRUE), F.lit(True)).when(
                    low.isin(*BOOL_FALSE), F.lit(False)
                ),
            )
    return df


def csv_infer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV schema-inference parity demo: write events with a
    synonym-coded boolean column ('yes'/'t'/'true' vs 'no'/'f'), run
    the reference-parity inference (Int64→Float64→Boolean→String
    voting), and aggregate on the inferred types. The oracle recomputes
    the same flag from the parquet table — green only if inference
    voted Boolean and the synonym casts match.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", "yes")
        .when(F.col("event_type") == "signup", "true")
        .when(F.col("event_type") == "error", "t")
        .when(F.col("event_type") == "click", "no")
        .otherwise("f")
        .alias("converted"),
    )
    out = os.path.join(
        tempfile.gettempdir(), f"csv-infer-{os.path.basename(sf_dir)}"
    )
    e.write.mode("overwrite").option("header", True).csv(out)
    back = read_csv_inferred(spark, out)
    for name, want in (
        ("converted", T.BooleanType),
        ("event_id", T.LongType),
        ("value", T.DoubleType),
    ):
        got = back.schema[name].dataType
        if not isinstance(got, want):
            raise TypeError(
                f"CSV inference typed {name!r} as {got.simpleString()}, "
                f"expected {want.typeName()}"
            )
    return (
        back.groupBy("converted")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_id"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .orderBy("converted")
    )


def dictionary_encode_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit dictionary encoding (reference T5, string_cache.rs:
    155-341: string→dense index, encode, decode): build a dense id per
    distinct source string (ordered), encode each doc, verify decode.
    """
    d = load_table(spark, sf_dir, "documents")
    dict_df = (
        d.select("source")
        .distinct()
        .withColumn(
            "code",
            F.row_number().over(Window.orderBy("source")) - 1,
        )
    )
    enc = d.join(F.broadcast(dict_df), "source")
    return (
        enc.groupBy("source", "code")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("code")
    )


def string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rope-style string editing ops (reference T7, text.rs:75-318:
    concat/insert/delete-at-position/substring) as scalar expressions.

    ``ins10`` inserts a marker at char position 10; ``del5_3`` deletes
    3 chars at position 5 — the rope's positional edits, expressed as
    substring splicing (O(n) per row here; the reference's rope makes
    them O(log n) in-place, which Spark's immutable columns don't need).
    """
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring("text", 1, 20).alias("head20"),
        F.concat(F.lit("["), F.col("lang"), F.lit("] "), F.substring("text", 1, 10)).alias(
            "tagged"
        ),
        F.length(F.regexp_replace("text", "data", "")).alias("len_without_data"),
        F.reverse(F.substring("text", 1, 12)).alias("rev12"),
        F.concat(
            F.substring("text", 1, 10),
            F.lit("<INS>"),
            F.expr("substring(text, 11)"),
        ).alias("ins10"),
        F.concat(
            F.substring("text", 1, 4), F.expr("substring(text, 8)")
        ).alias("del5_3"),
    ).orderBy("doc_id")


def one_hot_encode(
    df: DataFrame,
    col: str,
    categories: list | None = None,
    max_categories: int = 10_000,
) -> DataFrame:
    """True one-hot encoding (reference T4, the feature-encode
    transform): adds ``<col>_onehot`` — a fixed-width 0/1 int array,
    one slot per category in sorted order — plus ``<col>_code``, the
    dense index (-1 / all-zero vector for unseen categories).

    The category vocabulary is tiny model state: supplied by the
    caller or collected once from a distinct scan, then inlined as
    literals so the encode itself is a pure codegen'd projection —
    no join, no shuffle, scale-independent. (The pivot-style
    aggregation ``pivot_event_type_counts`` is the AGGREGATING
    cousin; this is the per-row feature transform.)

    The inferred vocabulary is BOUNDED: collecting distinct values of
    a high-cardinality column (a doc_id, a URL) is a driver OOM, not
    a categorical — the distinct scan is capped at ``max_categories``
    + 1 rows and raises ``ValueError`` when exceeded, directing the
    caller to pass explicit ``categories`` (which also widens the
    one-hot vector itself, a sign the encoding is wrong for the data).
    """
    if categories is None:
        sample = [
            r[0]
            for r in df.select(col)
            .where(F.col(col).isNotNull())
            .distinct()
            .limit(max_categories + 1)
            .collect()
        ]
        if len(sample) > max_categories:
            raise ValueError(
                f"one_hot_encode({col!r}): more than {max_categories} "
                f"distinct values — this column is not categorical at "
                f"one-hot width; pass explicit `categories` (or raise "
                f"`max_categories`) if you really mean it"
            )
        categories = sorted(sample)
    cats = list(categories)
    code = F.lit(-1)
    for i, c in enumerate(cats):
        code = F.when(F.col(col) == F.lit(c), F.lit(i)).otherwise(code)
    vec = F.array(
        *[(F.col(col) == F.lit(c)).cast("int") for c in cats]
    )
    # unseen/null category → all-zero vector, not nulls
    vec = F.transform(vec, lambda x: F.coalesce(x, F.lit(0)))
    return df.withColumn(f"{col}_code", code).withColumn(
        f"{col}_onehot", vec
    )
