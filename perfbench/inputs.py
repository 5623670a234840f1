"""Seeded, cached input generation.

Change logs and batch streams come from ``cdc.events``
(``generate_change_stream``, ``change_events_df``). Running the Spark
generator costs more than a whole measured loop on a fresh JVM, so it
runs once per checkout into a *pool* (generator seed 0), and each
``--seed`` derives its inputs from the pool with pyarrow: a seeded
permutation of the document ids (which moves the hot key, every key's
bucket and the lookup schedule's hits) and a seeded shift of every token
id. Op codes, LSNs, chunking, the out-of-order window and the
re-delivered slice are the pool's. Pools and derived inputs are cached
under ``<cache>/<name>-<sizes hash>-v<version>/`` and published with an
atomic rename; the program under test only receives these files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from dataclasses import dataclass

import numpy as np

# Bump when the generation or derivation logic changes; sizes are part of
# every cache key already.
INPUT_VERSION = 5


@dataclass(frozen=True)
class CdcSizes:
    docs: int
    events: int
    chunks: int


@dataclass(frozen=True)
class ServeSizes:
    docs: int
    base_events: int
    batch_events: int
    batches: int
    lookup_keys: int


SIZES = {
    "small": {
        "cdc_ingest": CdcSizes(docs=20_000, events=120_000, chunks=3),
        "lake_serve": ServeSizes(
            docs=5_000,
            base_events=20_000,
            batch_events=2_000,
            batches=30,
            lookup_keys=4_000,
        ),
    },
    "tiny": {
        "cdc_ingest": CdcSizes(docs=500, events=4_000, chunks=2),
        "lake_serve": ServeSizes(
            docs=300,
            base_events=1_500,
            batch_events=200,
            batches=12,
            lookup_keys=200,
        ),
    },
}


def _key(prefix: str, sizes) -> str:
    fp = hashlib.sha256(repr(sizes).encode()).hexdigest()[:10]
    return f"{prefix}-{fp}-v{INPUT_VERSION}"


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _cached(cache_root: str, key: str, build) -> tuple[str, dict]:
    """Return (dir, manifest) for ``key``, building it on a miss."""
    final = os.path.join(cache_root, key)
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return final, json.load(f)
    tmp = os.path.join(cache_root, f".{key}.{uuid.uuid4().hex}.tmp")
    os.makedirs(tmp)
    try:
        manifest = build(tmp)
        manifest["bytes"] = _dir_bytes(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        try:
            os.replace(tmp, final)
        except OSError:
            # A concurrent run published the same key first.
            shutil.rmtree(tmp, ignore_errors=True)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    with open(manifest_path) as f:
        return final, json.load(f)


def _derive(pool_dir: str, out_dir: str, docs: int, seed: int) -> None:
    """Copy every parquet file under ``pool_dir`` to the same relative
    path under ``out_dir``, with doc ids permuted and token ids shifted
    by ``seed``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ml_data_pipeline_spark.cdc.events import VOCAB

    rng = np.random.default_rng(seed)
    perm = rng.permutation(docs)
    shift = int(rng.integers(1, VOCAB))
    for dirpath, _dirs, files in os.walk(pool_dir):
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(dirpath, name)
            t = pq.read_table(src)
            idx = pc.cast(pc.utf8_slice_codeunits(t["doc_id"], 4), pa.int64())
            idx = idx.to_numpy(zero_copy_only=False)
            new_idx = np.where(idx < docs, perm[np.minimum(idx, docs - 1)], idx)
            doc_ids = np.char.add("doc-", np.char.zfill(new_idx.astype(str), 8))
            tok = t["tokens"].combine_chunks()
            values = tok.values.to_numpy(zero_copy_only=False).astype(np.int64)
            shifted = pa.ListArray.from_arrays(
                tok.offsets,
                pa.array(((values + shift) % VOCAB).astype(np.int32)),
                mask=tok.is_null(),
            )
            cols = {
                "doc_id": pa.array(doc_ids, pa.string()),
                "tokens": shifted,
                # Spark writes INT96 timestamps, which pyarrow reads as
                # nanoseconds; Spark reads microseconds back.
                "ts": pc.cast(t["ts"], pa.timestamp("us", tz="UTC")),
            }
            for name, col in cols.items():
                i = t.schema.get_field_index(name)
                t = t.set_column(i, t.schema.field(i).with_type(col.type), col)
            dst = os.path.join(out_dir, os.path.relpath(src, pool_dir))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            pq.write_table(t, dst)


def cdc_inputs(spark, cache_root: str, seed: int, size: str) -> tuple[str, dict]:
    """Change log for ``cdc_ingest``: 1% hot key, ~5% deletes, an
    out-of-order window across chunk boundaries and a 1% re-delivered
    slice, in ``chunks`` delivery chunks (one micro-batch each)."""
    from ml_data_pipeline_spark.cdc.events import generate_change_stream

    s: CdcSizes = SIZES[size]["cdc_ingest"]

    def build_pool(out: str) -> dict:
        generate_change_stream(
            spark,
            os.path.join(out, "log"),
            s.docs,
            s.events,
            n_chunks=s.chunks,
            seed=0,
            hot_key_fraction=0.01,
            delete_fraction=0.05,
            dup_fraction=0.01,
            shuffle_window=max(1, s.events // (s.chunks * 20)),
        )
        return {"docs": s.docs, "events": s.events, "chunks": s.chunks}

    pool, manifest = _cached(cache_root, _key("pool-cdc_ingest", s), build_pool)

    def build(out: str) -> dict:
        _derive(pool, out, s.docs, seed)
        # Set-up's warm-up log: the first chunks but the last, so that it
        # runs both a merge into an empty table and one into a filled one.
        for c in range(max(1, s.chunks - 1)):
            shutil.copytree(
                os.path.join(out, "log", f"chunk={c}"),
                os.path.join(out, "warmup", f"chunk={c}"),
            )
        return dict(manifest, seed=seed)

    return _cached(cache_root, _key(f"cdc_ingest-seed{seed}", s), build)


def serve_inputs(spark, cache_root: str, seed: int, size: str) -> tuple[str, dict]:
    """Inputs for ``lake_serve``: a base log, a stream of small change
    batches whose LSNs continue the base, and a Zipf-skewed lookup key
    schedule with ~10% keys that never exist."""
    from pyspark.sql import functions as F

    from ml_data_pipeline_spark.cdc.events import change_events_df

    s: ServeSizes = SIZES[size]["lake_serve"]

    def build_pool(out: str) -> dict:
        # One generator pass: LSNs below base_events form the base log
        # (batch=-1, four files so its merge scans in parallel); the rest
        # is cut into small batches batch=0.., one file each.
        n_stream = s.batch_events * s.batches
        events = change_events_df(
            spark, s.docs, s.base_events + n_stream, seed=0, delete_fraction=0.05
        )
        seq = F.col("seq")
        batch = F.when(seq < s.base_events, F.lit(-1)).otherwise(
            ((seq - F.lit(s.base_events)) / s.batch_events).cast("int")
        )
        (
            events.withColumn("batch", batch)
            .withColumn("_f", F.when(batch < 0, F.pmod(seq, F.lit(4))).otherwise(0))
            .repartition("batch", "_f")
            .drop("_f")
            .write.partitionBy("batch")
            .parquet(os.path.join(out, "events"))
        )
        return {
            "docs": s.docs,
            "events": s.base_events + n_stream,
            "base_events": s.base_events,
            "batch_events": s.batch_events,
            "batches": s.batches,
        }

    pool, manifest = _cached(cache_root, _key("pool-lake_serve", s), build_pool)

    def build(out: str) -> dict:
        _derive(pool, out, s.docs, seed)
        rng = np.random.default_rng(seed)
        ranks = rng.zipf(1.3, size=s.lookup_keys) - 1
        perm = rng.permutation(s.docs)
        idx = perm[np.minimum(ranks, s.docs - 1)]
        absent = rng.random(s.lookup_keys) < 0.10
        idx = np.where(absent, s.docs + rng.integers(0, s.docs, s.lookup_keys), idx)
        keys = [f"doc-{int(i):08d}" for i in idx]
        with open(os.path.join(out, "lookup_keys.json"), "w") as f:
            json.dump(keys, f)
        return dict(manifest, seed=seed, lookup_keys=s.lookup_keys)

    return _cached(cache_root, _key(f"lake_serve-seed{seed}", s), build)


def base_dir(inputs_dir: str) -> str:
    return os.path.join(inputs_dir, "events", "batch=-1")


def batch_dir(inputs_dir: str, i: int) -> str:
    return os.path.join(inputs_dir, "events", f"batch={i}")


def lookup_keys(inputs_dir: str) -> list[str]:
    with open(os.path.join(inputs_dir, "lookup_keys.json")) as f:
        return json.load(f)
