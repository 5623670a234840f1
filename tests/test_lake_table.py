"""LakeTable unit tests: create/merge/read/compact/idempotence/evolution."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA, DOC_SCHEMA
from ml_data_pipeline_spark.lake.table import FileEntry, LakeTable
from ml_data_pipeline_spark.lake.schema_evolution import (
    SchemaMismatch,
    compatible_with,
    merge_schemas,
    merge_types,
)


def _events(spark, rows):
    return spark.createDataFrame(rows, CHANGE_SCHEMA)


E = [
    # seq, op, doc_id, tokens, n_tok, source, ts
    (1, "I", "d1", [1, 2, 3], 3, "web", None),
    (2, "I", "d2", [4, 5], 2, "books", None),
    (3, "U", "d1", [7, 8, 9, 10], 4, "web", None),
    (4, "D", "d2", None, None, None, None),
    (5, "I", "d3", [11], 1, "code", None),
]


def _mk_table(spark, tmp_path, n_buckets=4):
    return LakeTable.create(
        spark, str(tmp_path / "tbl"), DOC_SCHEMA, key_col="doc_id", n_buckets=n_buckets
    )


def test_merge_and_read(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    t.merge_batch(_events(spark, E), batch_id=0)
    rows = {r["doc_id"]: r for r in t.read().collect()}
    assert set(rows) == {"d1", "d3"}
    assert rows["d1"]["tokens"] == [7, 8, 9, 10]
    assert rows["d1"]["n_tok"] == 4
    assert rows["d3"]["tokens"] == [11]


def test_merge_across_batches_out_of_order(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    # Later batch carries an *older* seq for d1 — must lose.
    t.merge_batch(_events(spark, E), batch_id=0)
    late = [(2, "U", "d1", [99], 1, "web", None)]
    t.merge_batch(_events(spark, late), batch_id=1)
    rows = {r["doc_id"]: r for r in t.read().collect()}
    assert rows["d1"]["tokens"] == [7, 8, 9, 10]
    # And a late update for a deleted doc must stay deleted (tombstone).
    late2 = [(3, "U", "d2", [42], 1, "web", None)]
    t.merge_batch(_events(spark, late2), batch_id=2)
    assert "d2" not in {r["doc_id"] for r in t.read().collect()}
    # But a *newer* update resurrects it.
    res = [(10, "U", "d2", [42], 1, "web", None)]
    t.merge_batch(_events(spark, res), batch_id=3)
    rows = {r["doc_id"]: r for r in t.read().collect()}
    assert rows["d2"]["tokens"] == [42]


def test_idempotent_replay(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    r1 = t.merge_batch(_events(spark, E), batch_id=0)
    before = sorted(map(tuple, t.read().collect()))
    r2 = t.merge_batch(_events(spark, E), batch_id=0)  # replay
    assert not r1["skipped"] and r2["skipped"]
    after = sorted(map(tuple, t.read().collect()))
    assert before == after
    assert t.snapshot.snapshot_id == r1["snapshot_id"]


def test_compaction_preserves_state_and_tombstones(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    t.merge_batch(_events(spark, E), batch_id=0)
    before = sorted(map(tuple, t.read().collect()))
    assert t.delta_file_count() > 0
    t.compact()
    assert t.delta_file_count() == 0
    assert sorted(map(tuple, t.read().collect())) == before
    # Tombstone for d2 must have survived compaction: an older update
    # arriving after compaction still loses.
    t.merge_batch(_events(spark, [(3, "U", "d2", [1], 1, "web", None)]), batch_id=1)
    assert "d2" not in {r["doc_id"] for r in t.read().collect()}
    # GC the tombstone once the replay watermark passed it.
    t.compact(gc_before_seq=100)
    raw = t.scan_files()
    assert raw.where(F.col("_deleted")).count() == 0


def test_hot_key_reduce_keeps_latest_version(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    hot = [(i, "U", "hot", [i], 1, "web", None) for i in range(200)] + list(E)
    t.merge_batch(_events(spark, hot), batch_id=0)
    rows = {r["doc_id"]: r for r in t.read().collect()}
    assert sorted(rows) == ["d1", "d3", "hot"]
    assert rows["hot"]["tokens"] == [199]


def _agg_steps(df) -> list:
    """``df``'s aggregates and hash exchanges in data-flow order, as
    ("partial" | "final" | "exchange", key columns)."""
    import re

    def names(text):
        return tuple(re.sub(r"#\d+L?", "", c).strip() for c in text.split(","))

    steps = []
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in reversed(plan.splitlines()):
        agg = re.search(r"Aggregate\(key=\[([^\]]*)\], functions=\[(\w+)", line)
        if agg:
            kind = "partial" if agg.group(2) == "partial_max" else "final"
            steps.append((kind, names(agg.group(1))))
        exchange = re.search(r"Exchange hashpartitioning\((.*), \d+\)", line)
        if exchange:
            steps.append(("exchange", names(exchange.group(1))))
    return steps


@pytest.mark.parametrize("patch", [False, True])
def test_resolve_combines_map_side(spark, tmp_path, patch):
    """The in-batch resolve aggregates partially before each shuffle
    (the map-side combine that defends against hot keys)."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        DOC_SCHEMA,
        key_col="doc_id",
        n_buckets=4,
        properties={"patch.enabled": "true"} if patch else None,
    )
    snap = t.refresh()
    events = _events(spark, E)
    per_key = [
        ("partial", ("doc_id",)),
        ("exchange", ("doc_id",)),
        ("final", ("doc_id",)),
    ]
    assert _agg_steps(t._resolve(events, snap, DOC_SCHEMA.fieldNames())) == per_key


def _stage_records(spark, before: set) -> list:
    """(input, shuffle-write) record counts of every stage run by the
    jobs started since the job ids ``before``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    return [
        (sd.inputRecords(), sd.shuffleWriteRecords())
        for job in _jobs(spark) - before
        for sd in map(store.lastStageAttempt, sc.statusTracker().getJobInfo(job).stageIds)
    ]


def test_hot_key_ships_one_row_per_map_task(spark, tmp_path, split_bytes):
    """The bound that makes the resolve skew-proof: a batch whose events
    all hit one key, read as P input partitions, sends exactly P rows
    into the resolve's exchange (one per map task, after the map-side
    combine), however many events each partition holds."""
    parts, per_part = 3, 20_000
    ev_dir = str(tmp_path / "ev")
    tokens = [(F.rand(seed) * 2**31).cast("int") for seed in range(8)]
    (
        spark.range(parts * per_part)
        .select(
            F.col("id").alias("seq"),
            F.lit("U").alias("op"),
            F.lit("hot").alias("doc_id"),
            F.array(*tokens).alias("tokens"),
            F.lit(8).alias("n_tok"),
            F.lit("web").alias("source"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        .repartition(parts)
        .write.parquet(ev_dir)
    )
    t = _mk_table(spark, tmp_path)
    one_mb = 1024 * 1024
    # A 1 MB split (the open cost) gives each file its own partition,
    # and input above it skips the one-task path, so the exchange runs.
    with split_bytes(str(one_mb)):
        events = spark.read.schema(CHANGE_SCHEMA).parquet(ev_dir)
        assert t._size_estimate(events) > one_mb
        assert events.rdd.getNumPartitions() >= parts
        before = _jobs(spark)
        t.merge_batch(events, batch_id=0)
    maps = [w for r, w in _stage_records(spark, before) if r == parts * per_part]
    assert maps == [parts]
    latest = events.orderBy(F.desc("seq")).first()
    assert [tuple(r) for r in t.read().collect()] == [
        ("hot", latest["tokens"], 8, "web")
    ]


def test_key_type_change_rejected_before_write(spark, tmp_path):
    """Spark hashes an int and the same value as a bigint differently,
    so widening the key int -> bigint would put existing keys in a
    second bucket: after compaction reads hold duplicates and lookups
    miss. The merge must refuse it before writing any file."""
    schema = T.StructType(
        [T.StructField("k", T.IntegerType(), False), T.StructField("v", T.StringType())]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "tbl"), schema, key_col="k", n_buckets=64
    )

    def events(key_type, keys, seq):
        return spark.createDataFrame(
            [(seq, "U", k, f"v{seq}") for k in keys],
            f"seq long, op string, k {key_type}, v string",
        )

    def data_files():
        return sorted(
            os.path.join(d, n) for d, _, ns in os.walk(t.data_dir) for n in ns
        )

    t.merge_batch(events("int", range(20), 1), batch_id=0)
    t.compact()
    sid = t.refresh().snapshot_id
    rows = sorted(map(tuple, t.read().collect()))
    files = data_files()
    with pytest.raises(SchemaMismatch, match="key column 'k'"):
        t.merge_batch(events("bigint", range(3), 2), batch_id=1)
    assert t.refresh().snapshot_id == sid
    assert sorted(map(tuple, t.read().collect())) == rows
    assert data_files() == files
    t.compact()
    assert t.read().count() == 20
    assert [tuple(r) for r in t.lookup(10).collect()] == [(10, "v1")]


def test_bucket_pruned_read(spark, tmp_path):
    t = _mk_table(spark, tmp_path, n_buckets=8)
    t.merge_batch(_events(spark, E), batch_id=0)
    full = t.read().collect()
    got = []
    for b in range(8):
        got.extend(t.read(buckets=[b]).collect())
    assert sorted(map(tuple, got)) == sorted(map(tuple, full))


def _scanned_files(df) -> list[str]:
    """Every data file of every file scan in ``df``'s physical plan,
    once per scan that reads it."""
    jvm = df.sparkSession._jvm
    plan = df._jdf.queryExecution().sparkPlan()
    out = []
    for node in jvm.scala.jdk.javaapi.CollectionConverters.asJava(plan.collectLeaves()):
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            out += list(node.relation().location().inputFiles())
    return out


def test_read_scans_each_file_once(spark, tmp_path):
    """``read`` reduces only the files of delta-bearing buckets and
    passes the other files through, scanning each file once, with the
    rows of a full reduce at every snapshot: the compaction test's
    table, plus a partial compaction that leaves base-only buckets
    beside delta-bearing ones."""
    t = _mk_table(spark, tmp_path)
    t.merge_batch(_events(spark, E), batch_id=0)
    t.compact()
    t.merge_batch(_events(spark, [(10, "I", "d4", [4], 1, "web", None)]), batch_id=1)
    t.merge_batch(
        _events(spark, [(11, "I", f"e{i}", [i], 1, "web", None) for i in range(20)]),
        batch_id=2,
    )
    t.compact(buckets=[0, 1])
    t.merge_batch(_events(spark, [(12, "D", "d1", None, None, None, None)]), batch_id=3)
    for snap in t.history():
        sid = snap.snapshot_id
        for buckets in (None, [0, 2], [3]):
            got = t.read(include_hidden=True, buckets=buckets, as_of_snapshot=sid)
            scanned = _scanned_files(got)
            files = [
                "file://" + os.path.join(t.root, f.path)
                for f in snap.files
                if buckets is None or f.bucket in buckets
            ]
            assert sorted(scanned) == sorted(files), (sid, buckets)
            full = LakeTable._reduce(
                t.scan_files(buckets=buckets, snap=snap), snap
            ).where(~F.col("_deleted"))
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, full.select(got.columns).collect())
            ), (sid, buckets)


# ---------------------------------------------------------------- evolution


def test_schema_evolution_add_column(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    t.merge_batch(_events(spark, E), batch_id=0)
    v2 = T.StructType(CHANGE_SCHEMA.fields + [T.StructField("lang", T.StringType())])
    ev = spark.createDataFrame(
        [(10, "U", "d1", [1], 1, "web", None, "en")], v2
    )
    res = t.merge_batch(ev, batch_id=1)
    assert res["schema_evolved"]
    assert "lang" in t.schema.fieldNames()
    rows = {r["doc_id"]: r for r in t.read().collect()}
    assert rows["d1"]["lang"] == "en"
    assert rows["d3"]["lang"] is None  # pre-evolution rows read as null


def test_schema_evolution_widen_n_tok(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    t.merge_batch(_events(spark, E), batch_id=0)
    v3 = T.StructType(
        [
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok", T.LongType()),  # widened int32→int64
            T.StructField("source", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    ev = spark.createDataFrame([(11, "U", "d3", [9, 9], 2, "code", None)], v3)
    res = t.merge_batch(ev, batch_id=1)
    assert res["schema_evolved"]
    assert isinstance(t.schema["n_tok"].dataType, T.LongType)
    rows = {r["doc_id"]: r for r in t.read().collect()}
    assert rows["d3"]["n_tok"] == 2 and rows["d1"]["n_tok"] == 4


def test_lattice():
    assert compatible_with(T.IntegerType(), T.LongType())
    assert compatible_with(T.LongType(), T.IntegerType())  # numeric↔numeric
    assert compatible_with(T.NullType(), T.StringType())
    assert compatible_with(
        T.ArrayType(T.IntegerType()), T.ArrayType(T.DoubleType())
    )
    assert not compatible_with(T.StringType(), T.IntegerType())
    assert merge_types(T.IntegerType(), T.LongType()) == T.LongType()
    assert merge_types(T.LongType(), T.IntegerType()) == T.LongType()  # no narrow
    assert merge_types(T.IntegerType(), T.FloatType()) == T.DoubleType()
    with pytest.raises(SchemaMismatch):
        merge_types(T.StringType(), T.ArrayType(T.IntegerType()))
    m = merge_schemas(
        T.StructType([T.StructField("a", T.IntegerType())]),
        T.StructType(
            [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
        ),
    )
    assert [f.name for f in m.fields] == ["a", "b"]
    assert isinstance(m["a"].dataType, T.LongType) and m["b"].nullable


def test_time_travel_and_vacuum(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    t.merge_batch(_events(spark, E), batch_id=0)
    snap1 = t.snapshot.snapshot_id
    t.merge_batch(_events(spark, [(10, "U", "d1", [42], 1, "web", None)]), batch_id=1)
    # time travel: snapshot 1 still shows the pre-update tokens
    old = {r["doc_id"]: r for r in t.read(as_of_snapshot=snap1).collect()}
    new = {r["doc_id"]: r for r in t.read().collect()}
    assert old["d1"]["tokens"] == [7, 8, 9, 10]
    assert new["d1"]["tokens"] == [42]
    # compact then vacuum: old files gone, old snapshots expired,
    # current state intact
    t.compact()
    res = t.vacuum(keep_snapshots=1)
    assert res["removed_files"] > 0 and res["removed_snapshots"] > 0
    after = {r["doc_id"]: r for r in t.read().collect()}
    assert after == new
    with pytest.raises(FileNotFoundError):
        t.read(as_of_snapshot=snap1).collect()
    # bloom sidecars are GC'd with their data files: none orphaned
    live_parquet = set()
    for dirpath, _dirs, files in os.walk(t.data_dir):
        for name in files:
            full = os.path.join(dirpath, name)
            if name.endswith(".parquet"):
                live_parquet.add(full)
            elif name.endswith(".bloom"):
                assert full[: -len(".bloom")] in live_parquet or os.path.exists(
                    full[: -len(".bloom")]
                ), f"orphaned bloom sidecar {full}"


def test_quarantine_bad_records(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    bad = [
        (100, "I", "ok1", [1, 2], 2, "web", None),
        (101, "X", "badop", [1], 1, "web", None),        # bad op
        (102, "I", None, [1], 1, "web", None),           # null key
        (103, "I", "mismatch", [1, 2, 3], 99, "web", None),  # n_tok wrong
        (104, "I", "ok2", [5], 1, "web", None),
    ]
    loose = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA.fields]
    )
    res = t.merge_batch(spark.createDataFrame(bad, loose), batch_id=0)
    assert res["events_in"] == 5 and res["events_invalid"] == 3
    live = {r["doc_id"] for r in t.read().collect()}
    assert live == {"ok1", "ok2"}
    q = spark.read.parquet(str(tmp_path / "tbl" / "quarantine"))
    reasons = {r["_reason"] for r in q.collect()}
    assert reasons == {"bad_op", "null_key", "n_tok_mismatch"}
    assert q.count() == 3
    # clean batch: no quarantine write, counters still observed
    res2 = t.merge_batch(
        _events(spark, [(200, "U", "ok1", [9], 1, "web", None)]), batch_id=1
    )
    assert res2["events_in"] == 1 and res2["events_invalid"] == 0


def test_driver_side_bucket_parity(spark):
    """bloom.bucket_of / spark_xxhash64 must be bit-identical to
    F.xxhash64 + pmod for string AND bigint keys (1k random each) —
    the precondition for lookup() computing the bucket driver-side."""
    import random
    import string as _string

    from ml_data_pipeline_spark.lake.bloom import bucket_of, spark_xxhash64

    rng = random.Random(123)
    strs = [
        "".join(
            rng.choices(_string.ascii_letters + _string.digits + "é漢_-", k=rng.randint(0, 64))
        )
        for _ in range(1000)
    ]
    got = spark.createDataFrame([(s,) for s in strs], "k string").select(
        "k",
        F.xxhash64("k").alias("h"),
        F.pmod(F.xxhash64("k"), F.lit(16)).cast("int").alias("b"),
    ).collect()
    for r in got:
        assert spark_xxhash64(r["k"]) == r["h"], r["k"]
        assert bucket_of(r["k"], 16) == r["b"], r["k"]
    longs = [rng.randint(-(2**62), 2**62) for _ in range(1000)]
    got = spark.createDataFrame([(v,) for v in longs], "k long").select(
        "k", F.xxhash64("k").alias("h")
    ).collect()
    for r in got:
        assert spark_xxhash64(r["k"]) == r["h"], r["k"]
        assert spark_xxhash64(r["k"], key_type=T.LongType()) == r["h"], r["k"]
    # byte/short/int columns hash as 4-byte ints, not as bigint
    for ddl, key_type, bits in (
        ("int", T.IntegerType(), 32),
        ("short", T.ShortType(), 16),
        ("byte", T.ByteType(), 8),
    ):
        lo, hi = -(2 ** (bits - 1)), 2 ** (bits - 1) - 1
        vals = [lo, hi, 0, -1] + [rng.randint(lo, hi) for _ in range(300)]
        got = spark.createDataFrame([(v,) for v in vals], f"k {ddl}").select(
            "k",
            F.xxhash64("k").alias("h"),
            F.pmod(F.xxhash64("k"), F.lit(16)).cast("int").alias("b"),
        ).collect()
        for r in got:
            assert spark_xxhash64(r["k"], key_type=key_type) == r["h"], (ddl, r["k"])
            assert bucket_of(r["k"], 16, key_type) == r["b"], (ddl, r["k"])


def test_lookup_correct_without_blooms(spark, tmp_path):
    """A file whose bloom sidecar is missing must only widen the
    lookup's file set, never change its answer."""
    t = LakeTable.create(
        spark, str(tmp_path / "tbl"), DOC_SCHEMA, key_col="doc_id", n_buckets=2
    )
    rows = [(i, "I", f"d{i}", [i], 1, "web", None) for i in range(10)]
    # files of both write paths
    assert t.merge_batch(_events(spark, rows), batch_id=0)["write_path"] == "executors"
    late = _parquet_events(spark, tmp_path, [(20, "U", "d9", [9, 9], 2, "web", None)])
    assert t.merge_batch(late, batch_id=1)["write_path"] == "driver"
    snap = t.refresh()
    assert len(snap.files) > 2
    for f in snap.files:
        os.remove(os.path.join(t.root, f.path + ".bloom"))
    t = LakeTable.load(spark, t.root)
    got = t.lookup("d3").collect()
    assert len(got) == 1 and got[0]["tokens"] == [3]
    assert t.lookup("absent").count() == 0
    # lookup_files falls back to the whole bucket (no pruning, sound)
    from ml_data_pipeline_spark.lake.bloom import bucket_of

    b = bucket_of("d3", 2)
    assert {f.path for f in t.lookup_files("d3")} == {
        f.path for f in snap.files if f.bucket == b
    }


def test_point_lookup_bloom_prunes_files(spark, tmp_path):
    """On a bucket holding many delta files, a point lookup must read
    only the file(s) that can contain the key (bloom pruning), and the
    pruned result must still be exact."""
    t = LakeTable.create(
        spark, str(tmp_path / "tbl"), DOC_SCHEMA, key_col="doc_id", n_buckets=1
    )
    # 8 batches of disjoint keys → 8 delta files in the single bucket
    for b in range(8):
        rows = [
            (b * 100 + i, "I", f"d{b}_{i}", [b, i], 2, "web", None)
            for i in range(20)
        ]
        t.merge_batch(_events(spark, rows), batch_id=b)
    snap = t.refresh()
    assert len(snap.files) == 8
    # blooms live in sidecars (snapshot JSON stays O(files)): every
    # file is flagged, its sidecar exists, and the handle can read it
    assert all(f.bloom_sidecar and not f.key_bloom for f in snap.files)
    assert all(
        os.path.exists(os.path.join(t.root, f.path + ".bloom"))
        for f in snap.files
    )
    assert all(t._file_bloom(f) for f in snap.files)
    cand = t.lookup_files("d3_7")
    assert len(cand) <= 2, [f.path for f in cand]  # ~1 + rare false positives
    got = t.lookup("d3_7").collect()
    assert len(got) == 1 and got[0]["tokens"] == [3, 7]
    # absent key: bloom usually prunes everything; result always empty
    assert t.lookup("nope").count() == 0
    # update + delete land in later files; lookup must still resolve
    t.merge_batch(_events(spark, [(900, "U", "d3_7", [9, 9], 2, "web", None)]), batch_id=8)
    assert t.lookup("d3_7").collect()[0]["tokens"] == [9, 9]
    t.merge_batch(_events(spark, [(901, "D", "d3_7", None, None, None, None)]), batch_id=9)
    assert t.lookup("d3_7").count() == 0


# ------------------------------------------------------------- lookup paths


def _jobs(spark) -> set:
    sc = spark.sparkContext
    # Job events reach the status tracker through the asynchronous
    # listener bus: drain it so every job started so far is counted.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _lookup_parity(spark, split_bytes, t, keys) -> set:
    """For every key, ``lookup`` at the session's split size, ``lookup``
    forced onto the Spark plan (a split smaller than any data file) and
    ``read()`` filtered to the key must agree. Returns the keys whose
    lookup at the session's split size started a Spark job."""
    snap = t.refresh()
    assert all(f.bytes > 512 for f in snap.files)
    state = {r[snap.key_col]: tuple(r) for r in t.read().collect()}
    with split_bytes("512"):
        via_spark = {k: [tuple(r) for r in t.lookup(k).collect()] for k in keys}
    started = set()
    for k in keys:
        want = [state[k]] if k in state else []
        before = _jobs(spark)
        got = [tuple(r) for r in t.lookup(k).collect()]
        if _jobs(spark) != before:
            started.add(k)
        assert got == want, (k, got, want)
        assert via_spark[k] == want, (k, via_spark[k], want)
    return started


def test_lookup_paths_agree_over_deltas_deletes_and_reinserts(spark, tmp_path, split_bytes):
    t = _mk_table(spark, tmp_path, n_buckets=2)
    batches = [
        [(i, "I", f"d{i}", [i, i], 2, "web", None) for i in range(30)],
        [(100 + i, "U", f"d{i}", [i, 100], 2, "books", None) for i in range(10)]
        + [(110 + i, "D", f"d{i}", None, None, None, None) for i in range(10, 15)],
        [(200 + i, "I", f"d{i}", [i, 200], 2, "code", None) for i in range(10, 13)]
        + [(210, "D", "d0", None, None, None, None), (211, "D", "d1", None, None, None, None)],
        # a late lower-seq update loses; a fresh key arrives
        [(50, "U", "d2", [50], 1, "web", None), (300, "I", "d30", [30], 1, "web", None)],
    ]
    for b, rows in enumerate(batches):
        t.merge_batch(_events(spark, rows), batch_id=b)
    per_bucket = {}
    for f in t.refresh().files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert min(per_bucket.values()) >= 3
    keys = [f"d{i}" for i in range(31)] + ["absent", "d99"]
    assert _lookup_parity(spark, split_bytes, t, keys) == set()


def test_lookup_paths_agree_across_schema_evolution(spark, tmp_path, split_bytes):
    """Files written before a column was added and ``n_tok`` widened
    int → long are read aligned to the current schema."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    t.merge_batch(
        _events(spark, [(i, "I", f"d{i}", [i], 1, "web", None) for i in range(12)]),
        batch_id=0,
    )
    v2 = T.StructType(
        [
            f if f.name != "n_tok" else T.StructField("n_tok", T.LongType())
            for f in CHANGE_SCHEMA.fields
        ]
        + [T.StructField("lang", T.StringType())]
    )
    ev = spark.createDataFrame(
        [(100 + i, "U", f"d{i}", [i, 1], 2, "web", None, "en") for i in range(0, 12, 3)]
        + [(120, "I", "d12", [12], 1, "code", None, "de")],
        v2,
    )
    assert t.merge_batch(ev, batch_id=1)["schema_evolved"]
    snap = t.refresh()
    assert isinstance(snap.schema["n_tok"].dataType, T.LongType)
    assert len({f.schema_fp for f in snap.files}) == 2
    keys = [f"d{i}" for i in range(13)] + ["absent"]
    assert _lookup_parity(spark, split_bytes, t, keys) == set()
    assert tuple(t.lookup("d3").collect()[0]) == ("d3", [3, 1], 2, "web", "en")
    assert tuple(t.lookup("d4").collect()[0]) == ("d4", [4], 1, "web", None)


def test_lookup_tie_on_max_seq(spark, tmp_path, split_bytes):
    """Rows tied on the max ``_seq`` (the same seq delivered in two
    batches): identical rows stay on the driver; differing rows take the
    Spark plan, whose ``max(struct(...))`` breaks the tie."""
    t = _mk_table(spark, tmp_path, n_buckets=1)
    t.merge_batch(
        _events(spark, [(5, "U", "d1", [1], 1, "web", None), (6, "I", "d2", [2], 1, "web", None)]),
        batch_id=0,
    )
    t.merge_batch(
        _events(spark, [(5, "U", "d1", [2], 1, "web", None), (6, "I", "d2", [2], 1, "web", None)]),
        batch_id=1,
    )
    snap = t.refresh()
    assert t._lookup_on_driver("d1", t.lookup_files("d1", snap), snap) is None
    assert t._lookup_on_driver("d2", t.lookup_files("d2", snap), snap) is not None
    assert _lookup_parity(spark, split_bytes, t, ["d1", "d2"]) == {"d1"}


def test_lookup_patch_table_takes_spark_plan(spark, tmp_path, split_bytes):
    t = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        DOC_SCHEMA,
        key_col="doc_id",
        n_buckets=2,
        properties={"patch.enabled": "true"},
    )
    t.merge_batch(
        _events(
            spark,
            [
                (1, "I", "a", [1, 2], 2, "web", None),
                (2, "P", "a", None, None, "books", None),
                (3, "I", "b", [3], 1, "code", None),
                (4, "P", "c", [4], 1, None, None),
            ],
        ),
        batch_id=0,
    )
    t.merge_batch(
        _events(
            spark,
            [(5, "P", "b", [9], 1, None, None), (6, "I", "c", [6], 1, "web", None)],
        ),
        batch_id=1,
    )
    assert _lookup_parity(spark, split_bytes, t, ["a", "b", "c"]) == {"a", "b", "c"}
    assert t.lookup("a").collect()[0]["source"] == "books"


def test_int_keyed_lookup(spark, tmp_path, split_bytes):
    """A table keyed on an IntegerType column: the driver-side bucket
    must hash the key as Spark hashes an int column (4 bytes)."""
    schema = T.StructType(
        [T.StructField("id", T.IntegerType(), False), T.StructField("v", T.StringType())]
    )
    events = T.StructType(
        [
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            *schema.fields,
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "tbl"), schema, key_col="id", n_buckets=4)
    rows = [(i, "I", i, f"v{i}") for i in range(20)] + [(50, "D", 7, None)]
    t.merge_batch(spark.createDataFrame(rows, events), batch_id=0)
    assert t.read().where("id = 5").collect()[0]["v"] == "v5"
    assert [tuple(r) for r in t.lookup(5).collect()] == [(5, "v5")]
    assert t.lookup(7).collect() == []
    assert _lookup_parity(spark, split_bytes, t, list(range(21))) == set()


# ------------------------------------------------------------- write paths

LOOSE = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA.fields]
)
WITH_LANG = T.StructType(LOOSE.fields + [T.StructField("lang", T.StringType())])


def _parquet_events(spark, tmp_path, rows, schema=LOOSE):
    """``rows`` as a parquet-backed frame. Its size estimate is known
    (a frame built from a Python list reports none), so a small write of
    it takes ``_write_files``' driver path."""
    import uuid

    path = str(tmp_path / "events" / uuid.uuid4().hex)
    spark.createDataFrame(rows, schema).write.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _bucket_rows(files) -> dict:
    out = {}
    for f in files:
        out[f.bucket] = out.get(f.bucket, 0) + f.rows
    return out


def _assert_blooms_cover(t):
    """Every key written to a file passes that file's sidecar bloom."""
    import pyarrow.parquet as pq

    from ml_data_pipeline_spark.lake.bloom import bloom_might_contain

    snap = t.refresh()
    for f in snap.files:
        keys = pq.read_table(os.path.join(t.root, f.path), columns=[snap.key_col])
        bloom = t._file_bloom(f)
        assert bloom, f.path
        assert all(
            bloom_might_contain(bloom, k) for k in keys[snap.key_col].to_pylist()
        ), f.path


def _assert_same_tables(a, b, keys):
    assert sorted(map(tuple, a.read().collect())) == sorted(
        map(tuple, b.read().collect())
    )
    assert _bucket_rows(a.refresh().files) == _bucket_rows(b.refresh().files)
    _assert_blooms_cover(a)
    _assert_blooms_cover(b)
    for k in keys:
        got_a = sorted(map(tuple, a.lookup(k).collect()))
        assert got_a == sorted(map(tuple, b.lookup(k).collect())), k


@pytest.mark.parametrize("patch", [False, True])
def test_write_paths_agree(spark, tmp_path, split_bytes, patch):
    """The same batches merged and compacted on the driver (input within
    one split) and on the executors (a split smaller than any input)
    give the same state, the same rows per bucket, blooms covering every
    written key and the same lookups."""
    batches = [
        (LOOSE, [(i, "I", f"d{i}", [i, i], 2, "web", None) for i in range(40)]),
        (
            LOOSE,
            [(100 + i, "U", f"d{i}", [i, 100], 2, "books", None) for i in range(10)]
            + [(110 + i, "D", f"d{i}", None, None, None, None) for i in range(10, 15)],
        ),
        (
            LOOSE,
            # re-inserts after deletes, new deletes, a late lower-seq update
            [(200 + i, "I", f"d{i}", [i, 200], 2, "code", None) for i in range(10, 13)]
            + [(210, "D", "d0", None, None, None, None)]
            + [(211, "D", "d1", None, None, None, None)]
            + [(50, "U", "d2", [50], 1, "web", None)],
        ),
        # all invalid: quarantined, no files written
        (LOOSE, [(300, "X", "d5", [1], 1, "web", None), (301, "I", None, [1], 1, "web", None)]),
        # an added column
        (
            WITH_LANG,
            [(400 + i, "U", f"d{i}", [i, 400], 2, "code", None, "en") for i in range(20, 30)]
            + [(420, "I", "d40", [40], 1, "web", None, "de")],
        ),
    ]
    if patch:
        batches.append(
            (
                LOOSE,
                [
                    (500, "P", "d3", None, None, "patched", None),
                    (501, "P", "d41", [41], 1, None, None),
                    (502, "P", "d10", [7, 7], 2, None, None),
                ],
            )
        )
    events = [_parquet_events(spark, tmp_path, rows, schema) for schema, rows in batches]
    props = {"patch.enabled": "true"} if patch else None
    a, b = (
        LakeTable.create(
            spark, str(tmp_path / n), DOC_SCHEMA, key_col="doc_id", n_buckets=4,
            properties=props,
        )
        for n in ("driver", "executors")
    )
    for i, ev in enumerate(events):
        ra = a.merge_batch(ev, batch_id=i)
        with split_bytes("512"):
            rb = b.merge_batch(ev, batch_id=i)
        assert (ra["write_path"], rb["write_path"]) == ("driver", "executors")
        assert a.snapshot.summary["write_path"] == "driver"
        assert b.snapshot.summary["write_path"] == "executors"
        files_a, files_b = (
            [FileEntry.from_json(f) for f in r["new_files"]] for r in (ra, rb)
        )
        assert _bucket_rows(files_a) == _bucket_rows(files_b), i
        for k in ("events_in", "events_invalid", "upsert_rows", "schema_evolved"):
            assert ra[k] == rb[k], (i, k)
        if i == 3:  # the all-invalid batch
            assert ra["new_files"] == rb["new_files"] == []
            assert (ra["events_in"], ra["events_invalid"]) == (2, 2)
        if i == 4:  # the added column
            assert ra["schema_evolved"]
    for t in (a, b):
        q = spark.read.parquet(os.path.join(t.root, "quarantine"))
        assert sorted(r["_reason"] for r in q.collect()) == ["bad_op", "null_key"]
    keys = [f"d{i}" for i in range(42)] + ["absent"]
    _assert_same_tables(a, b, keys)

    assert a.compact()["write_path"] == "driver"
    with split_bytes("512"):
        assert b.compact()["write_path"] == "executors"
    assert {f.kind for t in (a, b) for f in t.refresh().files} == {"base"}
    _assert_same_tables(a, b, keys)


def test_small_write_job_counts(spark, tmp_path):
    """A small parquet-backed merge runs one Spark job: its input fits one
    split, so the resolve runs in the task of the Arrow collect, with no
    exchange. A small compaction runs two (the reduce's map stage, then
    the collect). There is no bucket exchange and no Python stage; a
    change that adds a job to either fails here."""
    t = _mk_table(spark, tmp_path)
    rows = [(i, "I", f"d{i}", [i], 1, "web", None) for i in range(200)]
    t.merge_batch(_parquet_events(spark, tmp_path, rows), batch_id=0)
    ev = _parquet_events(spark, tmp_path, [(1000 + s, *r[1:]) for s, r in enumerate(rows)])
    before = _jobs(spark)
    assert t.merge_batch(ev, batch_id=1)["write_path"] == "driver"
    assert len(_jobs(spark) - before) == 1
    before = _jobs(spark)
    assert t.compact()["write_path"] == "driver"
    assert len(_jobs(spark) - before) == 2


def test_driver_write_bound(spark, tmp_path, monkeypatch):
    """The driver path also stops at ``DRIVER_WRITE_MAX_BYTES``, the
    measured driver/executor crossover, when the split is larger."""
    from ml_data_pipeline_spark.lake import table as table_mod

    rows = [(i, "I", f"d{i}", [i], 1, "web", None) for i in range(50)]
    ev = _parquet_events(spark, tmp_path, rows)
    t = _mk_table(spark, tmp_path)
    monkeypatch.setattr(table_mod, "DRIVER_WRITE_MAX_BYTES", 512)
    assert t.merge_batch(ev, batch_id=0)["write_path"] == "executors"
    monkeypatch.undo()
    assert t.merge_batch(ev, batch_id=1)["write_path"] == "driver"


@pytest.mark.parametrize("batch_rows", ["3", "0"])
def test_driver_write_in_small_batches(spark, tmp_path, batch_rows):
    """The driver path hands ``_write`` the rows in bucket order, one
    ``arrowMaxRecordsPerBatch`` batch at a time (0: a single batch).
    Batches that end inside a bucket still give one file per bucket,
    and the same files as one batch per write."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    rows = [(i, "I", f"d{i}", [i, i], 2, "web", None) for i in range(40)]
    ev = _parquet_events(spark, tmp_path, rows)
    a, b = (
        LakeTable.create(
            spark, str(tmp_path / n), DOC_SCHEMA, key_col="doc_id", n_buckets=4
        )
        for n in ("small", "default")
    )
    old = spark.conf.get(key)
    spark.conf.set(key, batch_rows)
    try:
        ra = a.merge_batch(ev, batch_id=0)
    finally:
        spark.conf.set(key, old)
    rb = b.merge_batch(ev, batch_id=0)
    assert (ra["write_path"], rb["write_path"]) == ("driver", "driver")
    files_a, files_b = (
        [FileEntry.from_json(f) for f in r["new_files"]] for r in (ra, rb)
    )
    assert len(files_a) == len({f.bucket for f in files_a}) == 4
    assert _bucket_rows(files_a) == _bucket_rows(files_b)
    _assert_same_tables(a, b, [f"d{i}" for i in range(40)])


# ------------------------------------------------------------ composite key

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("a", T.IntegerType()),
        T.StructField("b", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _pair_events(spark, rows):
    return spark.createDataFrame(rows, "seq long, op string, a int, b string, v long")


def _pair_state(rows):
    """(a, b) -> (seq, op, v) of the max-seq event: the independent
    reducer the table must agree with."""
    out = {}
    for seq, op, a, b, v in rows:
        if (a, b) not in out or seq > out[(a, b)][0]:
            out[(a, b)] = (seq, op, v)
    return out


def test_composite_key_merge_compact_changes(spark, tmp_path):
    """On an (int, string) key a row is the pair: keys sharing ``a``
    share a bucket but stay distinct rows through merges, deletes, a
    delete -> re-insert, compaction and ``changes()``."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), PAIR_SCHEMA, key_col=("a", "b"), n_buckets=4
    )
    batches = [
        [(1, "I", 1, "x", 10), (2, "I", 1, "y", 11), (3, "I", 2, "x", 12),
         (4, "U", 1, "x", 13), (5, "I", 3, "x", 14)],
        [(6, "D", 1, "y", None), (2, "U", 2, "x", 99), (7, "I", 2, "y", 15),
         (8, "D", 3, "x", None)],
        [(9, "I", 1, "y", 16), (10, "U", 2, "y", 17)],
    ]
    log, prefix = [], {t.snapshot.snapshot_id: 0}
    for i, rows in enumerate(batches):
        t.merge_batch(_pair_events(spark, rows), batch_id=i)
        log += rows
        prefix[t.snapshot.snapshot_id] = len(log)
        if i == 1:
            t.compact()
            prefix[t.snapshot.snapshot_id] = len(log)

    def live(state):
        return {k: v for k, (_s, op, v) in state.items() if op != "D"}

    want = live(_pair_state(log))
    assert {(r["a"], r["b"]): r["v"] for r in t.read().collect()} == want
    t.compact()
    assert t.delta_file_count() == 0
    assert {(r["a"], r["b"]): r["v"] for r in t.read().collect()} == want

    new = _pair_state(log)
    for since, n in prefix.items():
        old = _pair_state(log[:n])
        exp = {}
        for k, (s, op, v) in new.items():
            o = old.get(k)
            old_live = o is not None and o[1] != "D"
            if (o is not None and o[0] == s) or (op == "D" and not old_live):
                continue
            exp[k] = ("D" if op == "D" else "U", v, o[2] if old_live else None)
        got = {
            (r["a"], r["b"]): (r["op"], r["v"], r["_old_v"])
            for r in t.changes(since).collect()
        }
        assert got == exp, since


def test_composite_key_validation_and_lookup(spark, tmp_path):
    """A null in any key column is quarantined as ``null_key``; a
    composite-key table has no point lookup. A type change on the
    second key column is refused like one on the first: here that
    column is an int, so ``merge_schemas`` alone would widen it."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), PAIR_SCHEMA, key_col=("a", "b"), n_buckets=4
    )
    res = t.merge_batch(
        _pair_events(spark, [(1, "I", 1, "x", 1), (2, "I", 2, None, 2)]),
        batch_id=0,
    )
    assert (res["events_in"], res["events_invalid"]) == (2, 1)
    q = spark.read.parquet(os.path.join(t.root, "quarantine"))
    assert [(r["b"], r["_reason"]) for r in q.collect()] == [(None, "null_key")]
    assert [tuple(r) for r in t.read().collect()] == [(1, "x", 1)]
    with pytest.raises(ValueError, match="single-column key"):
        t.lookup(1)

    u = LakeTable.create(
        spark, str(tmp_path / "u"), PAIR_SCHEMA, key_col=("b", "a"), n_buckets=4
    )
    u.merge_batch(_pair_events(spark, [(1, "I", 1, "x", 1)]), batch_id=0)
    wide = spark.createDataFrame(
        [(2, "U", 1, "x", 2)], "seq long, op string, a bigint, b string, v long"
    )
    with pytest.raises(SchemaMismatch, match="key column 'a'"):
        u.merge_batch(wide, batch_id=1)
    assert u.refresh().snapshot_id == 1


def test_merge_exprs_follow_both_schemas(spark, tmp_path):
    """A handle builds a merge's column lists once per (input schema,
    table schema) and reuses them. One handle that merges, adds a column,
    widens a type, is refused a key-type change and merges again must
    leave the state a fresh handle per step leaves, at every step."""
    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.IntegerType())]
    )
    roots = [str(tmp_path / n) for n in ("kept", "fresh")]
    kept = LakeTable.create(spark, roots[0], schema, key_col="k", n_buckets=4)
    LakeTable.create(spark, roots[1], schema, key_col="k", n_buckets=4)

    def ev(ddl, rows):
        return spark.createDataFrame(rows, f"seq long, op string, {ddl}")

    steps = [
        ("k int, v int", [(1, "I", k, k) for k in range(6)]),
        ("k int, v int, w string", [(2, "U", k, -k, f"w{k}") for k in range(3)]),
        ("k int, v bigint", [(3, "U", 4, 2**40), (3, "D", 5, None)]),
        ("k int, v bigint", [(4, "U", 0, 7), (4, "I", 5, 8)]),
        ("k bigint, v bigint", [(5, "U", 1, 1)]),
        ("k int, v int", [(6, "U", 2, 9), (6, "D", 3, None)]),
    ]
    for i, (ddl, rows) in enumerate(steps):
        states = []
        for t in (kept, LakeTable.load(spark, roots[1])):
            if ddl.startswith("k bigint"):
                with pytest.raises(SchemaMismatch, match="cannot change type"):
                    t.merge_batch(ev(ddl, rows), batch_id=i)
            else:
                t.merge_batch(ev(ddl, rows), batch_id=i)
            t.refresh()
            states.append((t.schema, sorted(map(tuple, t.read().collect()))))
        assert states[0] == states[1], (i, ddl)
    assert states[0][0].simpleString() == "struct<k:int,v:bigint,w:string>"


def test_one_split_merge_runs_one_job(spark, tmp_path, monkeypatch):
    """Merge input that fits one split runs as one task: the resolve's
    partial and final aggregates sit in the write's job, with no
    exchange. Input of several splits keeps the partial -> exchange ->
    final resolve that combines map-side."""
    t = _mk_table(spark, tmp_path)
    written = []
    write = t._write_files

    def spy(df, kind, snap=None):
        written.append(df)
        return write(df, kind, snap=snap)

    monkeypatch.setattr(t, "_write_files", spy)
    path = str(tmp_path / "one")
    rows = [(i, "I", f"d{i % 150}", [i], 1, "web", None) for i in range(300)]
    spark.createDataFrame(rows, LOOSE).coalesce(1).write.parquet(path)
    t.merge_batch(_events(spark, E), batch_id=0)
    before = _jobs(spark)
    res = t.merge_batch(spark.read.schema(LOOSE).parquet(path), batch_id=1)
    assert (res["write_path"], res["upsert_rows"]) == ("driver", 150)
    assert len(_jobs(spark) - before) == 1
    plan = written[-1]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert [s for s, _ in _agg_steps(written[-1])] == ["partial", "final"]

    # Several splits: random token arrays that compress to over the 1 MB
    # open cost, in four files.
    path = str(tmp_path / "many")
    spark.range(8000).selectExpr(
        "id + 1000 as seq",
        "'U' as op",
        "concat('d', id % 3000) as doc_id",
        "transform(sequence(1, 40), x -> cast(rand(7) * 2e9 as int)) as tokens",
        "40 as n_tok",
        "'web' as source",
        "cast(null as timestamp) as ts",
    ).repartition(4).write.parquet(path)
    assert sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)) > 2**20
    res = t.merge_batch(spark.read.schema(LOOSE).parquet(path), batch_id=2)
    assert res["upsert_rows"] == 3000
    assert _agg_steps(written[-1]) == [
        ("partial", ("doc_id",)),
        ("exchange", ("doc_id",)),
        ("final", ("doc_id",)),
    ]
