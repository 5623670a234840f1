"""Partial-column update (op 'P') semantics on patch-enabled tables.

Every test compares the engine against an independent per-event
ordered-replay reducer (cdc.oracle.expected_state_with_patches) —
exact token-array equality per doc_id, per the repo's CDC contract.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ml_data_pipeline_spark.cdc.events import (
    CHANGE_SCHEMA,
    DOC_SCHEMA,
    change_events_df,
)
from ml_data_pipeline_spark.cdc.oracle import (
    expected_state_with_patches,
    load_events_pandas,
)
from ml_data_pipeline_spark.cdc.stream import run_replay
from ml_data_pipeline_spark.lake.table import LakeTable


def _patch_stream(spark, n_docs=80, n_events=1500, seed=21):
    """Deterministic change stream where ~40% of updates become
    patches setting either the token columns, the source column, or
    both (non-null = set)."""
    ev = change_events_df(spark, n_docs, n_events, seed=seed)
    s = F.col("seq")
    roll = F.pmod(F.xxhash64(F.lit(seed), F.lit("p"), s), F.lit(10))
    is_p = (F.col("op") == "U") & (roll < 4)
    which = F.pmod(F.xxhash64(F.lit(seed), F.lit("w"), s), F.lit(3))
    set_tok = is_p & (which != 1)  # 0,2 → tokens set
    set_src = is_p & (which != 0)  # 1,2 → source set
    return (
        ev.withColumn("op", F.when(is_p, "P").otherwise(F.col("op")))
        .withColumn(
            "tokens",
            F.when(is_p & ~set_tok, F.lit(None)).otherwise(F.col("tokens")),
        )
        .withColumn(
            "n_tok",
            F.when(is_p & ~set_tok, F.lit(None)).otherwise(F.col("n_tok")),
        )
        .withColumn(
            "source",
            F.when(is_p & ~set_src, F.lit(None)).otherwise(F.col("source")),
        )
    )


def _write_chunked(df, out_dir: str, n_chunks: int, seed: int) -> None:
    """Random chunk per event — maximal out-of-order delivery (patches
    may arrive batches before their insert and after their delete)."""
    chunk = F.pmod(F.xxhash64(F.lit(seed), F.lit("c"), F.col("seq")), F.lit(n_chunks))
    (
        df.withColumn("chunk", chunk.cast("int"))
        .repartition(n_chunks, "chunk")
        .write.partitionBy("chunk")
        .parquet(out_dir)
    )


def _create_patch_table(spark, root: str, n_buckets: int = 4) -> LakeTable:
    return LakeTable.create(
        spark,
        root,
        DOC_SCHEMA,
        key_col="doc_id",
        n_buckets=n_buckets,
        properties={"patch.enabled": "true"},
    )


def _tok(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    return [int(x) for x in list(v)]


def _check(table: LakeTable, ev_dir: str) -> None:
    events = load_events_pandas(ev_dir)
    want = expected_state_with_patches(events)
    got = table.read().toPandas()
    w = {
        r["doc_id"]: (_tok(r["tokens"]), r["n_tok"], r["source"])
        for _, r in want.iterrows()
    }
    g = {
        r["doc_id"]: (_tok(r["tokens"]), r["n_tok"], r["source"])
        for _, r in got.iterrows()
    }

    def norm(t):
        toks, nt, src = t
        nt = None if nt is None or (isinstance(nt, float) and np.isnan(nt)) else int(nt)
        src = None if src is None or (isinstance(src, float) and np.isnan(src)) else src
        return (toks, nt, src)

    assert set(g) == set(w), (
        f"keys differ: missing={sorted(set(w) - set(g))[:5]} "
        f"extra={sorted(set(g) - set(w))[:5]}"
    )
    for k in w:
        assert norm(g[k]) == norm(w[k]), f"{k}: {norm(g[k])} vs {norm(w[k])}"


def test_patch_batch_apply_matches_ordered_replay(spark, tmp_path):
    ev_dir = str(tmp_path / "events")
    _write_chunked(_patch_stream(spark), ev_dir, n_chunks=1, seed=21)
    t = _create_patch_table(spark, str(tmp_path / "tbl"))
    t.merge_batch(spark.read.option("recursiveFileLookup", "true").parquet(ev_dir), batch_id=0)
    _check(t, ev_dir)


def test_patch_streaming_out_of_order(spark, tmp_path):
    """Random chunking: patches routinely arrive in earlier micro-
    batches than their insert and after deletes — the lattice must
    still converge to the ordered-replay state."""
    ev_dir = str(tmp_path / "events")
    _write_chunked(_patch_stream(spark, n_events=2000), ev_dir, n_chunks=8, seed=33)
    t = _create_patch_table(spark, str(tmp_path / "tbl"))
    stats = run_replay(
        spark, t.root, ev_dir, str(tmp_path / "ckpt"), max_files_per_trigger=3
    )
    assert stats["batches"] >= 3
    _check(t, ev_dir)


def test_patch_compaction_preserves_state(spark, tmp_path):
    ev_dir = str(tmp_path / "events")
    _write_chunked(_patch_stream(spark), ev_dir, n_chunks=4, seed=44)
    t = _create_patch_table(spark, str(tmp_path / "tbl"))
    run_replay(
        spark, t.root, ev_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    t.compact()
    assert t.delta_file_count() == 0
    _check(t, ev_dir)


def test_patch_gc_keeps_tombstones_guarding_newer_overlays(spark, tmp_path):
    """Tombstone GC drops a tombstone only when its base AND every
    overlay seq are below the watermark: a patch-carrier tombstone
    still holds a newer overlay for a late full event."""
    t = _create_patch_table(spark, str(tmp_path / "tbl"))

    def events(rows):
        return spark.createDataFrame(rows, CHANGE_SCHEMA)

    t.merge_batch(
        events(
            [
                (50, "P", "a", None, None, "books", None),
                (5, "D", "b", None, None, None, None),
            ]
        ),
        batch_id=0,
    )
    t.compact(gc_before_seq=40)
    assert {r["doc_id"] for r in t.scan_files().collect()} == {"a"}
    t.merge_batch(events([(10, "I", "a", [1], 1, "web", None)]), batch_id=1)
    assert [tuple(r) for r in t.read().collect()] == [("a", [1], 1, "books")]


def test_patch_with_schema_evolution(spark, tmp_path):
    """Batch 2 adds a new column (lang) AND patches that set ONLY the
    new column: the storage schema gains lang + _ps_lang, old files
    scan as null, and patch overlays on the new column resolve exactly."""
    t = _create_patch_table(spark, str(tmp_path / "tbl"))
    d1 = str(tmp_path / "ev1")
    change_events_df(spark, 50, 600, seed=7).write.parquet(d1)
    t.merge_batch(spark.read.parquet(d1), batch_id=0)

    ev2 = change_events_df(
        spark, 50, 600, seed=8, extra_cols=True, seq_start=600
    )
    s = F.col("seq")
    is_p = (F.col("op") == "U") & (
        F.pmod(F.xxhash64(F.lit(8), F.lit("p2"), s), F.lit(10)) < 5
    )
    ev2 = (
        ev2.withColumn("op", F.when(is_p, "P").otherwise(F.col("op")))
        # patches set ONLY lang
        .withColumn("tokens", F.when(is_p, F.lit(None)).otherwise(F.col("tokens")))
        .withColumn("n_tok", F.when(is_p, F.lit(None)).otherwise(F.col("n_tok")))
        .withColumn("source", F.when(is_p, F.lit(None)).otherwise(F.col("source")))
    )
    d2 = str(tmp_path / "ev2")
    ev2.write.parquet(d2)
    res = t.merge_batch(spark.read.parquet(d2), batch_id=1)
    assert res["schema_evolved"]
    assert "lang" in t.schema.fieldNames()

    import pandas as pd

    events = pd.concat(
        [load_events_pandas(d1), load_events_pandas(d2)], ignore_index=True
    )
    want = expected_state_with_patches(events)
    got = t.read().toPandas()

    def scalars(df):
        out = {}
        for _, r in df.iterrows():
            lang = r.get("lang")
            if isinstance(lang, float) and np.isnan(lang):
                lang = None
            nt = r["n_tok"]
            nt = None if nt is None or (isinstance(nt, float) and np.isnan(nt)) else int(nt)
            out[r["doc_id"]] = (_tok(r["tokens"]), nt, lang)
        return out

    g, w = scalars(got), scalars(want)
    assert set(g) == set(w)
    for k in w:
        assert g[k] == w[k], f"{k}: {g[k]} vs {w[k]}"
    # patches on the new column actually landed
    assert any(v[2] is not None for v in g.values())


def test_patch_op_rejected_on_plain_table(spark, tmp_path):
    """A non-patch table quarantines op 'P' as bad_op instead of
    silently corrupting state."""
    ev_dir = str(tmp_path / "events")
    _write_chunked(_patch_stream(spark, n_events=400), ev_dir, n_chunks=1, seed=66)
    ev = spark.read.option("recursiveFileLookup", "true").parquet(ev_dir)
    t = LakeTable.create(
        spark, str(tmp_path / "plain"), DOC_SCHEMA, key_col="doc_id", n_buckets=4
    )
    res = t.merge_batch(ev, batch_id=0)
    n_p = ev.where(F.col("op") == "P").count()
    assert n_p > 0 and res["events_invalid"] >= n_p
    q = spark.read.parquet(str(tmp_path / "plain" / "quarantine"))
    assert q.where(F.col("_reason") == "bad_op").count() == n_p
