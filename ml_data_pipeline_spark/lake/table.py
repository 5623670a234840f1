"""LakeTable — a Spark-native snapshot-isolated upsert table.

This is the engine's sink: the role Iceberg plays in the north rule,
implemented from scratch on plain Parquet + JSON snapshot metadata
because no lake-format jar ships in this sandbox. The commit contract
is the same as Iceberg's:

* **Atomic snapshot commit** — a snapshot JSON lists the exact data
  files that make up the table version; the current version pointer is
  swapped with an atomic ``os.replace``. Readers resolve the pointer
  once and see a consistent file set. (Reference analog: the
  ``Sink::flush`` finalization contract, /root/reference/ml-data/
  ml-data-core/src/sink.rs:18 — flush = commit.)
* **Merge-on-read CDC upserts** — ``merge_batch`` appends the batch's
  per-key-resolved rows as *delta* files (append-only: this is what a
  high-throughput CDC sink must do at 10^10-event scale; copy-on-write
  per batch would rewrite the table continuously). The read path
  reduces base+delta by max ``_seq`` per key; ``compact()`` folds
  deltas into base files.
* **Exactly-once** — each snapshot records a per-stream batch-id high
  watermark; re-delivered micro-batches (streaming restart replays the
  last uncommitted batch) are detected and skipped, so apply+commit is
  idempotent. (Reference analog: resumable sources via ``reset``/
  ``seek``, ml-data-core/src/source.rs:43, ml-data-readers/src/
  data_source.rs:17-29.)
* **Schema evolution** — incoming batches may add columns or widen
  types; ``merge_schemas`` (the reference's compatibility lattice,
  ml-data-core/src/schema.rs:206-253) evolves the snapshot schema;
  old files are *not* rewritten — the scan casts every file group to
  the current schema (Iceberg-style lazy evolution).

Scale design: rows are hash-bucketed by the key column
(``pmod(xxhash64(key), n_buckets)``); every file belongs to exactly
one bucket. Merges only touch the buckets present in the batch;
compaction is per-bucket and embarrassingly parallel; a point lookup
prunes to one bucket. At 100 TB you raise ``n_buckets`` (e.g. 4096)
so per-bucket compactions stay executor-sized; nothing else changes.

Tombstones: deletes are stored as ``_deleted=true`` rows carrying
their ``_seq``. They must survive compaction (a late lower-seq update
must still lose to the delete); ``compact(gc_before_seq=...)`` drops
tombstones older than a replay watermark.

Concurrency: commits use optimistic concurrency (Iceberg-style). The
commit point is the EXCLUSIVE creation (``open(…, 'x')``) of
``snapshot-<id>.json`` — two writers racing to commit the same next
id produce exactly one winner; the loser gets ``CommitConflict``,
refreshes, REBASES its already-written delta files onto the winner's
snapshot (files are immutable and schema-fingerprinted, so a rebase
is a metadata-only retry) and commits again. The version-hint file
is an advisory fast-path cache; ``refresh()`` probes past it for
snapshots whose hint update didn't land (creation is the commit, the
hint is not). On an object store, swap the exclusive create for a
catalog CAS — the protocol is unchanged.
"""

from __future__ import annotations

import json
import os
import uuid
import weakref
from dataclasses import dataclass, field
from typing import Callable, Iterable, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml_data_pipeline_spark.lake.schema_evolution import (
    SchemaMismatch,
    assert_lake_payload_type,
    merge_schemas,
)

SEQ_COL = "_seq"
DELETED_COL = "_deleted"
HIDDEN_COLS = (SEQ_COL, DELETED_COL)
PS_PREFIX = "_ps_"  # per-column patch-seq columns (patch-enabled tables)
PATCH_PROP = "patch.enabled"
CARRIER_SEQ = -(2**62)  # _seq of patch-carrier rows: loses to any full event
EVENT_SEQ = "seq"  # change-event LSN column (merge_batch input)
EVENT_OP = "op"  # change-event op column: 'I'|'U'|'D', plus 'P' on patch tables
COMMIT_ATTEMPTS = 5  # consecutive lost commit races before a writer gives up
# Largest optimizer size estimate _write_files writes on the driver (it is
# also capped at one input split). Measured on a 4-vCPU host, merge and
# compaction walls, driver vs executors, parquet-backed change events into
# a 16-bucket table (medians of 3-5 alternating runs; estimate in MB):
#   estimate   1: merge 0.49 vs 0.76 s, compaction 0.44 vs 0.75 s
#   estimate   4: merge 0.60 vs 0.86 s, compaction 0.54 vs 0.73 s
#   estimate   8: merge 0.92 vs 1.23 s, compaction 0.85 vs 0.95 s
#   estimate  12: merge 0.98 vs 1.09 s, compaction 0.95 vs 1.09 s
#   estimate  16: merge 1.19 vs 1.17 s, compaction 1.03-1.23 vs 1.07-1.08 s
#   estimate  32: merge 1.97 vs 1.74 s, compaction 1.56 vs 1.18 s
# so the crossover lies between 12 and 16 MB. A 4-bucket table crosses
# later (16 MB: 1.08 vs 1.16 s), and three tables written at once from
# three driver threads still favoured the driver at 32 MB (2.97 vs 3.45 s:
# pyarrow releases the GIL while the concurrent executor jobs share the
# same four cores).
DRIVER_WRITE_MAX_BYTES = 12 * 1024 * 1024


class CommitConflict(Exception):
    """Another writer committed this snapshot id first (optimistic
    concurrency): refresh, rebase, retry."""


@dataclass
class FileEntry:
    path: str  # relative to table root
    bucket: int
    kind: str  # "base" | "delta"
    rows: int
    schema_fp: str  # fingerprint key into Snapshot.schemas
    bytes: int = 0  # on-disk size (drives size-tiered compaction)
    # Key-membership bloom (lake.bloom) built executor-side at write
    # time; lets a point lookup skip files that provably lack the key.
    # Since round 4 the bloom lives in a SIDECAR file next to the data
    # file (``<path>.bloom``, flagged by ``bloom_sidecar``): inlining
    # it in snapshot JSON made every commit rewrite — and every
    # refresh parse — O(files × bloom_bytes) of base64 (at 4096
    # buckets that is a 100s-of-MB snapshot, a real 100 TB cliff),
    # where only point lookups ever need bloom bytes, and only for
    # one bucket's files. ``key_bloom`` (inline) is still read for
    # pre-round-4 snapshots. Absent both → never pruned (sound).
    key_bloom: str | None = None
    bloom_sidecar: bool = False

    def to_json(self) -> dict:
        d = {
            "path": self.path,
            "bucket": self.bucket,
            "kind": self.kind,
            "rows": self.rows,
            "schema_fp": self.schema_fp,
            "bytes": self.bytes,
        }
        if self.key_bloom:
            d["key_bloom"] = self.key_bloom
        if self.bloom_sidecar:
            d["bloom_sidecar"] = True
        return d

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(
            d["path"],
            d["bucket"],
            d["kind"],
            d["rows"],
            d["schema_fp"],
            d.get("bytes", 0),
            d.get("key_bloom"),
            d.get("bloom_sidecar", False),
        )


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    schema_json: dict  # current USER schema (no hidden columns)
    key_col: str
    n_buckets: int
    files: list[FileEntry] = field(default_factory=list)
    schemas: dict[str, dict] = field(default_factory=dict)  # fp -> storage schema json
    watermarks: dict[str, int] = field(default_factory=dict)  # stream_id -> batch_id
    summary: dict = field(default_factory=dict)
    # Table properties: parquet writer knobs applied to every data-file
    # write — "parquet.block.size" (row-group size),
    # "parquet.enable.dictionary" and "parquet.compression"; any other
    # parquet.* key warns and is ignored (_write_files) (reference
    # analog: the parquet writer's properties,
    # ml-data-readers/src/parquet/writer.rs:37-56).
    properties: dict = field(default_factory=dict)
    # Key columns after ``key_col`` on a composite-key table: a row's
    # identity is the tuple, while ``key_col`` alone buckets and blooms.
    key_rest: list[str] = field(default_factory=list)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    @property
    def patch_enabled(self) -> bool:
        return self.properties.get(PATCH_PROP) == "true"

    @property
    def key_cols(self) -> list[str]:
        return [self.key_col, *self.key_rest]

    def payload_cols(self) -> list[str]:
        keys = self.key_cols
        return [f.name for f in self.schema.fields if f.name not in keys]

    def storage_schema(self) -> T.StructType:
        fields = list(self.schema.fields) + [
            T.StructField(SEQ_COL, T.LongType(), False),
            T.StructField(DELETED_COL, T.BooleanType(), False),
        ]
        if self.patch_enabled:
            # One patch-seq per payload column: the LSN of the patch
            # event whose value currently overlays the base row's
            # (null = the column comes from the base full event).
            fields += [
                T.StructField(PS_PREFIX + c, T.LongType(), True)
                for c in self.payload_cols()
            ]
        return T.StructType(fields)

    def child(self, schema_json: dict | None = None) -> "Snapshot":
        """The uncommitted next snapshot on top of this one: same files,
        schemas, watermarks and properties (copies the caller may
        mutate), an empty summary, and ``schema_json`` if given."""
        return Snapshot(
            snapshot_id=self.snapshot_id + 1,
            parent_id=self.snapshot_id,
            schema_json=self.schema_json if schema_json is None else schema_json,
            key_col=self.key_col,
            n_buckets=self.n_buckets,
            files=list(self.files),
            schemas=dict(self.schemas),
            watermarks=dict(self.watermarks),
            properties=dict(self.properties),
            key_rest=self.key_rest,
        )

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "schema": self.schema_json,
            "key_col": self.key_col,
            "n_buckets": self.n_buckets,
            "files": [f.to_json() for f in self.files],
            "schemas": self.schemas,
            "watermarks": self.watermarks,
            "summary": self.summary,
            "properties": self.properties,
            "key_rest": self.key_rest,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            schema_json=d["schema"],
            key_col=d["key_col"],
            n_buckets=d["n_buckets"],
            files=[FileEntry.from_json(f) for f in d.get("files", [])],
            schemas=d.get("schemas", {}),
            watermarks=d.get("watermarks", {}),
            summary=d.get("summary", {}),
            properties=d.get("properties", {}),
            key_rest=d.get("key_rest", []),
        )


def _aligned(f: T.StructField, have: set[str]) -> Column:
    """``f`` read from a frame holding the columns ``have``: cast to its
    type, or null when the frame lacks it."""
    return (F.col(f.name) if f.name in have else F.lit(None)).cast(f.dataType)


def _align(schema: T.StructType, have: Iterable[str]) -> list[Column]:
    """Project a frame holding the columns ``have`` onto ``schema``:
    each field cast to its type, a field the frame lacks (added after
    the frame's data was written) as null."""
    have = set(have)
    return [_aligned(f, have).alias(f.name) for f in schema.fields]


def _schema_fp(schema: T.StructType) -> str:
    import hashlib

    return hashlib.sha1(
        json.dumps(schema.jsonValue(), sort_keys=True).encode()
    ).hexdigest()[:12]


# Key types on which pyarrow's sort and equality group rows as Spark's
# groupBy does: no NaN (a float key), no collation (a non-default string).
_DRIVER_KEY_TYPES = (
    T.StringType(),
    T.BinaryType(),
    T.ByteType(),
    T.ShortType(),
    T.IntegerType(),
    T.LongType(),
    T.DateType(),
)


def _latest_on_driver(rows, keys: Sequence[str], base=None):
    """``LakeTable._reduce`` of a plain (non-patch) table's storage rows,
    on the driver: ``rows`` is a pyarrow table, and the result is the
    index of each key's max-``_seq`` row, in key order. With ``base`` (a
    numpy bool mask over ``rows``) it is that and, aligned to it, the
    index of each key's max-``_seq`` row among the ``base`` rows, -1 for
    a key without one; else that and None.

    Returns None when two DIFFERENT rows tie at a max ``_seq``: Spark's
    ``max(struct(_seq, *payload, _deleted))`` breaks such a tie field by
    field, so the caller takes the Spark plan. Identical rows tie often:
    a compaction inside a ``changes()`` window leaves every key of a
    rewritten bucket in both the old and the new base file. So the tied
    pairs are compared column by column in Arrow, never row by row in
    Python: for the 689 tied pairs of a ``lake_serve`` window a
    ``to_pylist`` comparison took 22 ms, the Arrow one 0.9 ms. (A NaN
    payload never compares equal, so its tie takes Spark too.)

    Why a second reduce beside Spark's: a small input runs as one Spark
    task anyway, so the job is all of the cost. On a 4-vCPU host a ~300
    KB lookup took ~265 ms through Spark and ~35 ms here; a
    ``lake_serve`` feed window and compaction are measured at
    ``_changes_on_driver`` and ``_compact_on_driver``."""
    import numpy as np
    import pyarrow.compute as pc

    if any(rows[k].null_count for k in keys):
        return None  # Spark groups null keys as one; merges never write them
    n = rows.num_rows
    order = pc.sort_indices(
        rows.select([*keys, SEQ_COL]),
        sort_keys=[*((k, "ascending") for k in keys), (SEQ_COL, "descending")],
    ).to_numpy()
    # first[p]: sorted position p starts a key; run[p]: that key's number
    first = np.ones(n, dtype=bool)
    if n > 1:
        first[1:] = False
        for k in keys:
            col = rows[k].take(order).combine_chunks()
            first[1:] |= pc.not_equal(col[1:], col[:-1]).to_numpy(zero_copy_only=False)
    run = np.cumsum(first) - 1
    seq = rows[SEQ_COL].to_numpy()[order]
    tied_a, tied_b = [], []

    def latest(pos):
        """Sorted positions ``pos`` (ascending) → each key's first one,
        which holds its max ``_seq``; records the rows tied with it."""
        head = np.ones(len(pos), dtype=bool)
        head[1:] = run[pos[1:]] != run[pos[:-1]]
        win = pos[head]
        owner = win[np.cumsum(head) - 1]
        tied = ~head & (seq[pos] == seq[owner])
        tied_a.append(order[pos[tied]])
        tied_b.append(order[owner[tied]])
        return win

    win = latest(np.arange(n))
    old = None
    if base is not None:
        old_win = latest(np.flatnonzero(base[order]))
        old = np.full(len(win), -1, dtype=np.int64)
        old[run[old_win]] = order[old_win]
    a, b = np.concatenate(tied_a), np.concatenate(tied_b)
    if len(a):
        rest = [c for c in rows.column_names if c not in keys and c != SEQ_COL]
        if not rows.select(rest).take(a).equals(rows.select(rest).take(b)):
            return None
    return order[win], old


class LakeTable:
    """Snapshot-isolated, bucketed, merge-on-read upsert table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        self._snapshot: Snapshot | None = None
        # Lazily-read sidecar blooms, keyed by relative data-file path.
        # Data files are immutable, so entries never invalidate; the
        # cache holds only buckets this handle actually probed.
        self._bloom_cache: dict[str, str | None] = {}
        # Column lists of merges and writes, keyed by the schemas they
        # were built from (``_memo``).
        self._exprs: dict[tuple, object] = {}
        # The ChangesFeeds reading this handle (each registers itself),
        # and the last small changes() window, held for those of them at
        # its cursor that have not taken it yet, as ((since, until)
        # snapshot ids, local relation, feeds): see ``_changes_once``.
        self._feeds: weakref.WeakSet = weakref.WeakSet()
        self._window: tuple[tuple[int, int], DataFrame, weakref.WeakSet] | None = None

    # ------------------------------------------------------------- lifecycle

    @property
    def meta_dir(self) -> str:
        return os.path.join(self.root, "_meta")

    @property
    def data_dir(self) -> str:
        return os.path.join(self.root, "data")

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, "_meta", "version-hint.txt"))

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_col: str | Sequence[str],
        n_buckets: int = 16,
        properties: dict | None = None,
    ) -> "LakeTable":
        """``key_col`` names the key column, or a sequence of them for a
        composite key: rows are then identified by the tuple and
        bucketed on its first column, and files carry no key bloom."""
        if cls.exists(root):
            raise ValueError(f"table already exists at {root}")
        keys = [key_col] if isinstance(key_col, str) else list(key_col)
        for k in keys:
            if k not in schema.fieldNames():
                raise SchemaMismatch(f"key column {k!r} not in schema")
        assert_lake_payload_type(schema)
        t = cls(spark, root)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        snap = Snapshot(
            snapshot_id=0,
            parent_id=None,
            schema_json=schema.jsonValue(),
            key_col=keys[0],
            n_buckets=n_buckets,
            properties=dict(properties or {}),
            key_rest=keys[1:],
        )
        t._write_snapshot(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        t.refresh()
        return t

    def refresh(self) -> Snapshot:
        hint = os.path.join(self.meta_dir, "version-hint.txt")
        with open(hint) as f:
            sid = int(f.read().strip())
        # The hint is advisory: snapshot CREATION is the commit point,
        # so probe past the hint for commits whose hint update didn't
        # land (writer crashed between create and hint swap).
        while os.path.exists(
            os.path.join(self.meta_dir, f"snapshot-{sid + 1}.json")
        ):
            sid += 1
        try:
            with open(
                os.path.join(self.meta_dir, f"snapshot-{sid}.json")
            ) as f:
                self._snapshot = Snapshot.from_json(json.load(f))
        except FileNotFoundError:
            # A writer stalled between snapshot create and hint swap
            # can regress the hint to an id vacuum has since expired;
            # the forward probe then stops at the retention gap. Fall
            # back to the max existing snapshot file and repair the
            # hint so subsequent refreshes take the fast path again.
            live = [
                int(n[len("snapshot-") : -len(".json")])
                for n in os.listdir(self.meta_dir)
                if n.startswith("snapshot-") and n.endswith(".json")
            ]
            if not live:
                raise
            sid = max(live)
            with open(
                os.path.join(self.meta_dir, f"snapshot-{sid}.json")
            ) as f:
                self._snapshot = Snapshot.from_json(json.load(f))
            self._write_hint(sid)
        return self._snapshot

    def _write_hint(self, snapshot_id: int) -> None:
        hint_tmp = os.path.join(self.meta_dir, f".hint-{uuid.uuid4().hex}.tmp")
        with open(hint_tmp, "w") as f:
            f.write(str(snapshot_id))
            f.flush()
            os.fsync(f.fileno())
        os.replace(hint_tmp, os.path.join(self.meta_dir, "version-hint.txt"))

    @property
    def snapshot(self) -> Snapshot:
        if self._snapshot is None:
            self.refresh()
        return self._snapshot

    @property
    def schema(self) -> T.StructType:
        return self.snapshot.schema

    @property
    def key_col(self) -> str:
        return self.snapshot.key_col

    def history(self) -> list[Snapshot]:
        out = []
        for name in sorted(os.listdir(self.meta_dir)):
            if name.startswith("snapshot-") and name.endswith(".json"):
                with open(os.path.join(self.meta_dir, name)) as f:
                    out.append(Snapshot.from_json(json.load(f)))
        return sorted(out, key=lambda s: s.snapshot_id)

    # --------------------------------------------------------------- commit

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Commit ``snap``. The exclusive create of the snapshot file
        is THE commit point (optimistic concurrency: exactly one
        writer can create ``snapshot-<id>.json``); the version-hint
        swap after it is an advisory fast-path for ``refresh``.
        Raises ``CommitConflict`` if another writer committed this id.
        """
        path = os.path.join(self.meta_dir, f"snapshot-{snap.snapshot_id}.json")
        tmp = os.path.join(self.meta_dir, f".snap-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(snap.to_json(), f)
            f.flush()
            os.fsync(f.fileno())
        try:
            # Atomic claim of the id with content already complete: a
            # crash can orphan the .tmp (harmless, ignored by readers)
            # but can never publish a torn snapshot.
            os.link(tmp, path)
        except FileExistsError:
            os.unlink(tmp)
            raise CommitConflict(
                f"snapshot {snap.snapshot_id} already committed by another "
                f"writer"
            ) from None
        os.unlink(tmp)
        # Best-effort guard against REGRESSING the hint (a stalled
        # writer publishing late): skip the swap when the hint already
        # points at or past this commit. Still racy by design — the
        # hint is advisory and refresh() self-heals a bad hint.
        try:
            with open(os.path.join(self.meta_dir, "version-hint.txt")) as f:
                if int(f.read().strip()) >= snap.snapshot_id:
                    self._snapshot = snap
                    return
        except (OSError, ValueError):
            pass
        self._write_hint(snap.snapshot_id)
        self._snapshot = snap

    # ---------------------------------------------------------------- write

    def bucket_expr(self, key=None, snap: Snapshot | None = None):
        snap = snap or self.snapshot
        key = F.col(snap.key_col) if key is None else key
        return F.pmod(F.xxhash64(key), F.lit(snap.n_buckets)).cast("int")

    # Bound on the column lists one handle keeps: a long-lived handle sees
    # a new input or table schema only on schema evolution.
    MEMO_ENTRIES = 64

    def _memo(self, key: tuple, build: Callable[[], object]):
        """``build()``, computed once per ``key`` on this handle. A merge
        builds its Column lists from two schemas, the input's and the
        table's, one py4j call per expression node: building them took
        ~330 of the ~500 py4j calls of a 2k-event merge (4-vCPU host).
        The key names everything a list depends on, so a cached list is
        reused only while both schemas are unchanged. ``build`` raising
        caches nothing."""
        try:
            return self._exprs[key]
        except KeyError:
            if len(self._exprs) >= self.MEMO_ENTRIES:
                self._exprs.clear()
            value = self._exprs[key] = build()
            return value

    def _size_estimate(self, df: DataFrame) -> int:
        """The optimizer's size estimate of ``df`` in bytes: file sizes for
        parquet-backed input, Long.MaxValue when unknown (RDD-backed
        frames)."""
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))

    def _driver_max_bytes(self) -> int:
        """The one driver bound: the largest input this handle handles on
        the driver as Arrow, DRIVER_WRITE_MAX_BYTES and at most one input
        split (``spark.sql.files.maxPartitionBytes``). ``_write_files``
        compares a write's size estimate with it; the driver-side reduce
        (``_reduces_on_driver``) its input files' bytes."""
        conf = self.spark._jsparkSession.sessionState().conf()
        return min(DRIVER_WRITE_MAX_BYTES, conf.filesMaxPartitionBytes())

    def _write_cols(self, snap: Snapshot) -> list[Column]:
        """The write projection of ``snap``'s storage rows: each column
        cast to its storage type, plus ``_bucket`` hashed from the cast
        key."""
        storage = snap.storage_schema()

        def build():
            key = F.col(snap.key_col).cast(storage[snap.key_col].dataType)
            cast = [F.col(f.name).cast(f.dataType).alias(f.name) for f in storage]
            return [*cast, self.bucket_expr(key, snap).alias("_bucket")]

        return self._memo(
            ("write", storage.json(), snap.key_col, snap.n_buckets), build
        )

    def _write_files(
        self, df: DataFrame, kind: str, snap: Snapshot | None = None
    ) -> tuple[list[FileEntry], str]:
        """Write rows (storage schema) as bucket-partitioned parquet files.

        The bucket is recomputable from the key, so it is stored only in
        metadata (directory name), not as a data column. ``snap`` is the
        (possibly uncommitted, in-flight) snapshot whose schema and
        properties govern the write — passed explicitly so a failed
        write never leaves ``self._snapshot`` pointing at phantom state.

        Returns the written files and where they were written:
        ``"driver"`` or ``"executors"`` (identical files either way).
        """
        snap = snap or self.snapshot
        bucketed = df.select(*self._write_cols(snap))
        # Driver path (``_write_arrow``), for rows whose optimizer size
        # estimate is at most DRIVER_WRITE_MAX_BYTES (the measured
        # crossover, above) and at most one input split
        # (spark.sql.files.maxPartitionBytes). The estimate is of the
        # compressed input (parquet file sizes): the collected Arrow rows
        # were 0.8-1.6x it in the measurement (19 MB at a 12 MB estimate,
        # for random token ids; better-compressing data expands more). An
        # unknown estimate (RDD-backed frames report Long.MaxValue) takes
        # the executor path.
        if self._size_estimate(bucketed) <= self._driver_max_bytes():
            return self._write_arrow(bucketed.toArrow(), kind, snap), "driver"
        # Executor path: one shuffle, hash-partitioned then sorted by
        # bucket → one file per bucket per write, one open writer at
        # a time. Task retries are safe: the final file name is
        # deterministic per (write_id, partition, bucket) and
        # published by atomic rename, so a re-run attempt overwrites
        # identical content; orphaned .tmp files of failed attempts
        # are swept by vacuum. One assumption worth naming: with
        # speculative execution a duplicate attempt can re-publish a
        # bucket's file AFTER the winner's manifest row was
        # collected, and shuffle-order nondeterminism means the
        # re-published file may compress to a slightly different
        # size — so FileEntry.bytes is advisory for the on-disk
        # file. Row content and blooms are equivalent either way
        # (same rows, set semantics), and the only consumer of
        # `bytes` (SizeTieredPolicy) tolerates drift: tier
        # thresholds are ratios over sums, not exact-match checks.
        manifest = (
            bucketed.repartition(F.col("_bucket"))
            .sortWithinPartitions("_bucket")
            .mapInArrow(
                self._writer(snap),
                "path string, bucket int, rows long, bytes long, sidecar boolean",
            )
            .collect()
        )
        return self._entries(manifest, kind, snap), "executors"

    def _write_arrow(self, table, kind: str, snap: Snapshot) -> list[FileEntry]:
        """``_write_files``' driver path: write the pyarrow ``table`` of
        ``snap``'s storage rows plus ``_bucket`` with the same ``_write``,
        in bucket order, batch by batch. That skips the bucket exchange
        and the Python worker task, whose start-up is most of a small
        write's cost: each task spent 150-250 ms in setup_spark_files(),
        whose importlib.invalidate_caches() makes Python 3.11 re-read the
        central directory of every zip on the worker path. A no-op
        mapInArrow over 2,000 rows took ~250 ms against 38 ms without
        Python (4-vCPU host). The driver holds the rows once plus one
        sorted batch of arrowMaxRecordsPerBatch rows, not a second sorted
        copy."""
        import pyarrow.compute as pc

        conf = self.spark._jsparkSession.sessionState().conf()
        order = pc.sort_indices(table["_bucket"])  # stable
        # (a limit of 0 or less means one batch, as in Spark)
        step = conf.arrowMaxRecordsPerBatch()
        step = step if step > 0 else max(len(order), 1)
        batches = (
            b
            for i in range(0, len(order), step)
            for b in table.take(order.slice(i, step)).to_batches()
        )
        write = self._writer(snap)
        return self._entries(
            [r for b in write(batches) for r in b.to_pylist()], kind, snap
        )

    def _entries(self, manifest, kind: str, snap: Snapshot) -> list[FileEntry]:
        """The ``FileEntry`` of each manifest row ``_writer`` emitted."""
        fp = _schema_fp(snap.storage_schema())
        return [
            FileEntry(
                path=os.path.relpath(r["path"], self.root),
                bucket=int(r["bucket"]),
                kind=kind,
                rows=int(r["rows"]),
                schema_fp=fp,
                bytes=int(r["bytes"]),
                bloom_sidecar=bool(r["sidecar"]),
            )
            for r in manifest
        ]

    def _writer(self, snap: Snapshot):
        """The ``_write`` generator of one write of ``snap``'s storage
        rows into a fresh directory: Arrow batches sorted by ``_bucket``
        in, one manifest batch (path, bucket, rows, bytes, sidecar) out.
        It runs on the driver (``_write_arrow``) or in ``mapInArrow``
        tasks (``_write_files``)."""
        write_id = uuid.uuid4().hex
        out_dir = os.path.join(self.data_dir, write_id)
        key_col = snap.key_col
        props = snap.properties
        # Parquet writer knobs (reference analog: writer.rs:37-56).
        # parquet.bloom.filter.* is intentionally not forwarded: the
        # lake's own per-file key blooms (built below, stored as
        # <file>.bloom sidecars) are what serve point lookups, and the
        # pyarrow in this environment cannot write parquet-level
        # blooms.
        # SUPPORTED property whitelist — the Arrow writer honors
        # exactly these three (the pre-round-4 Spark-datasource path
        # forwarded every property as a writer .option; that implicit
        # contract is gone). Unrecognized parquet.* properties warn
        # once per write so the narrowing is visible, not silent.
        block_size = int(props.get("parquet.block.size", 128 * 1024 * 1024))
        use_dict = props.get("parquet.enable.dictionary", "true").lower() != "false"
        compression = props.get("parquet.compression", "snappy")
        _supported = {
            "parquet.block.size",
            "parquet.enable.dictionary",
            "parquet.compression",
        }
        unknown = [
            k for k in props if k.startswith("parquet.") and k not in _supported
        ]
        if unknown:
            import warnings

            warnings.warn(
                f"table properties {sorted(unknown)} are not honored by "
                f"the lake's Arrow parquet writer (supported: "
                f"{sorted(_supported)})",
                stacklevel=2,
            )
        # Key blooms serve point lookups only, and a composite-key table
        # has none (``lookup`` raises): its files carry no bloom.
        with_bloom = not snap.key_rest

        # SINGLE-PASS write + manifest: ``_write`` streams Arrow batches
        # sorted by bucket straight into parquet — one bucket (= one
        # file) open at a time — and emits the manifest (path, bucket,
        # rows, bytes, key-bloom). The key bloom is built from the
        # batches already in memory — the round-3 design (Spark writer +
        # a second job re-reading every new file's key column) paid a
        # full extra key-column decode per commit, which at 10^10 events
        # is real per-event cost and on an object store a
        # read-after-write round-trip per file. Memory is bounded
        # exactly like Spark's own sort-based dynamic-partition writer:
        # the sorted input means ONE open writer whose buffer flushes as
        # a row group at ~parquet.block.size of Arrow bytes, plus the
        # current file's key column for the bloom. It runs in one of two
        # places (below): on the driver for small input, else in a
        # mapInArrow task per bucket partition.
        def _write(batches):
            import numpy as np
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark import TaskContext

            from ml_data_pipeline_spark.lake.bloom import bloom_build

            ctx = TaskContext.get()  # None on the driver
            pid = ctx.partitionId() if ctx is not None else 0
            out = {"path": [], "bucket": [], "rows": [], "bytes": [], "sidecar": []}
            cur: dict | None = None

            def flush(st):
                if st["buf"]:
                    tbl = pa.Table.from_batches(st["buf"])
                    # Row groups of ~parquet.block.size buffered Arrow
                    # bytes (translated to a row count — pyarrow sizes
                    # groups by rows, parquet-mr by bytes).
                    if tbl.nbytes > block_size and tbl.num_rows > 1:
                        rg_rows = max(
                            1, int(tbl.num_rows * block_size / tbl.nbytes)
                        )
                    else:
                        rg_rows = 1 << 30
                    st["writer"].write_table(tbl, row_group_size=rg_rows)
                    st["buf"] = []
                    st["buf_bytes"] = 0

            def finalize(st):
                flush(st)
                st["writer"].close()
                os.replace(st["tmp"], st["final"])
                out["path"].append(st["final"])
                out["bucket"].append(st["bucket"])
                out["rows"].append(st["rows"])
                out["bytes"].append(os.path.getsize(st["final"]))
                # Bloom goes to a SIDECAR file (<data>.bloom, same
                # tmp+rename protocol) instead of riding through the
                # manifest into snapshot JSON: snapshot stays
                # O(files), bloom bytes are read only by point
                # lookups, only for the probed bucket's files, and
                # are GC'd with their data file by vacuum.
                out["sidecar"].append(with_bloom)
                if with_bloom:
                    b = bloom_build(
                        pa.chunked_array(st["keys"]).combine_chunks()
                    )
                    btmp = st["final"] + f".{uuid.uuid4().hex}.tmp"
                    with open(btmp, "w") as bf:
                        bf.write(b)
                    os.replace(btmp, st["final"] + ".bloom")

            for batch in batches:
                names = batch.schema.names
                data_cols = [n for n in names if n != "_bucket"]
                key_idx = data_cols.index(key_col)
                bvals = batch.column(names.index("_bucket")).to_numpy(
                    zero_copy_only=False
                )
                # contiguous runs of equal bucket (input sorted by it)
                edges = [0] + list(
                    (np.nonzero(np.diff(bvals))[0] + 1).tolist()
                ) + [len(bvals)]
                for s, t in zip(edges, edges[1:]):
                    if s == t:
                        continue
                    b = int(bvals[s])
                    sub = batch.slice(s, t - s).select(data_cols)
                    if cur is not None and cur["bucket"] != b:
                        finalize(cur)
                        cur = None
                    if cur is None:
                        bdir = os.path.join(out_dir, f"_bucket={b}")
                        os.makedirs(bdir, exist_ok=True)
                        tmp = os.path.join(
                            bdir, f".part-{pid:05d}-{uuid.uuid4().hex}.tmp"
                        )
                        cur = {
                            "bucket": b,
                            "writer": pq.ParquetWriter(
                                tmp,
                                sub.schema,
                                use_dictionary=use_dict,
                                compression=compression,
                            ),
                            "tmp": tmp,
                            "final": os.path.join(
                                bdir, f"part-{pid:05d}.parquet"
                            ),
                            "buf": [],
                            "buf_bytes": 0,
                            "rows": 0,
                            "keys": [],
                        }
                    cur["buf"].append(sub)
                    cur["buf_bytes"] += sub.nbytes
                    cur["rows"] += sub.num_rows
                    cur["keys"].append(sub.column(key_idx))
                    if cur["buf_bytes"] >= block_size:
                        flush(cur)
            if cur is not None:
                finalize(cur)
            if out["path"]:
                yield pa.RecordBatch.from_pydict(
                    out,
                    schema=pa.schema(
                        [
                            ("path", pa.string()),
                            ("bucket", pa.int32()),
                            ("rows", pa.int64()),
                            ("bytes", pa.int64()),
                            ("sidecar", pa.bool_()),
                        ]
                    ),
                )

        return _write

    # ----------------------------------------------------------------- read

    def _empty(self, schema: T.StructType) -> DataFrame:
        """No rows of ``schema``, as an Arrow-backed local relation: its
        size estimate is 0 (an empty ``createDataFrame([])`` is
        RDD-backed and unknown), so a write built on it can still take
        ``_write_files``' driver path."""
        from pyspark.sql.pandas.types import to_arrow_schema

        return self.spark.createDataFrame(
            to_arrow_schema(schema).empty_table(), schema
        )

    def scan_files(
        self,
        buckets: Iterable[int] | None = None,
        files: Sequence[FileEntry] | None = None,
        snap: Snapshot | None = None,
    ) -> DataFrame:
        """Raw storage-schema rows from the selected snapshot files.

        Files are grouped by their written schema fingerprint; each
        group is read with its exact schema and cast/aligned to the
        snapshot's *current* storage schema (lazy schema evolution —
        old files are never rewritten).
        """
        snap = snap or self.snapshot
        storage = snap.storage_schema()
        sel = list(snap.files if files is None else files)
        if buckets is not None:
            bset = set(buckets)
            sel = [f for f in sel if f.bucket in bset]
        if not sel:
            return self._empty(storage)
        by_fp: dict[str, list[str]] = {}
        for fe in sel:
            by_fp.setdefault(fe.schema_fp, []).append(
                os.path.join(self.root, fe.path)
            )
        parts: list[DataFrame] = []
        for fp, paths in by_fp.items():
            fschema = T.StructType.fromJson(snap.schemas[fp])
            df = self.spark.read.schema(fschema).parquet(*paths)
            parts.append(df.select(*_align(storage, fschema.fieldNames())))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_arrow(
        self,
        files: Sequence[FileEntry],
        snap: Snapshot,
        *,
        key=None,
        with_bucket: bool = False,
    ):
        """``scan_files`` on the driver: the storage rows of ``files`` as
        one pyarrow table aligned to ``snap``'s storage schema (a column
        added after a file was written reads null, a widened type is
        cast), only those whose key column equals ``key`` if given, and
        with ``with_bucket`` each row's file bucket as ``_bucket``."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        target = pa.schema(
            [
                pa.field(f.name, to_arrow_type(f.dataType))
                for f in snap.storage_schema().fields
            ]
        )
        storage = list(target)
        if with_bucket:
            target = target.append(pa.field("_bucket", pa.int32()))
        parts = [target.empty_table()]
        for fe in files:
            # ParquetFile.read, not read_table: the dataset layer behind
            # read_table took twice as long over lake_serve's small files.
            got = pq.ParquetFile(os.path.join(self.root, fe.path)).read()
            if key is not None:
                got = got.filter(pc.equal(got[snap.key_col], key))
            cols = [
                pa.nulls(got.num_rows, f.type)
                if f.name not in got.column_names
                else got[f.name]
                if got.schema.field(f.name).type == f.type
                else got[f.name].cast(f.type)
                for f in storage
            ]
            if with_bucket:
                cols.append(pa.array(np.full(got.num_rows, fe.bucket, np.int32)))
            parts.append(pa.table(cols, schema=target))
        return pa.concat_tables(parts)

    def _input_bytes(self, files: Iterable[FileEntry]) -> int:
        """The on-disk bytes of ``files``, from snapshot metadata (the
        file's size for entries written before it was recorded)."""
        return sum(
            f.bytes or os.path.getsize(os.path.join(self.root, f.path))
            for f in files
        )

    def _reduces_on_driver(self, snap: Snapshot, files: Iterable[FileEntry]) -> bool:
        """Whether a reduce of ``files`` may run on the driver
        (``_latest_on_driver``): a plain table (a patch table's overlay
        reduce stays Spark's one copy), keys pyarrow groups as Spark does,
        and input within ``_driver_max_bytes``, the bound under which
        ``_write_files`` collects rows onto the driver. Input that fits
        one split runs as one Spark task anyway, so a job buys it no
        parallelism."""
        return (
            not snap.patch_enabled
            and all(snap.schema[k].dataType in _DRIVER_KEY_TYPES for k in snap.key_cols)
            and self._input_bytes(files) <= self._driver_max_bytes()
        )

    @classmethod
    def _reduce(cls, df: DataFrame, snap: Snapshot) -> DataFrame:
        """Per-key latest state of ``snap``'s storage rows ``df``.

        ``groupBy + max(struct(...))`` rather than a window
        ``row_number``: struct-max is partially aggregable, so Spark
        combines map-side before the shuffle — a hot key collapses to
        one row per map task instead of shipping every version to a
        single reducer. This is the skew-proof reduction primitive.
        """
        keys = snap.key_cols
        return (
            df.groupBy(*keys)
            .agg(*cls._latest_aggs(snap))
            .select(*keys, *cls._latest_cols(snap))
        )

    @staticmethod
    def _latest_aggs(
        snap: Snapshot, where: Column | None = None, prefix: str = ""
    ) -> list[Column]:
        """The max aggregates behind ``_reduce``, over the rows where
        ``where`` holds (all rows by default), named ``<prefix>_b`` and
        ``<prefix>_o_<col>``; ``_latest_cols`` projects them back to
        storage columns.

        Semantics (exactly ordered-replay): per key, the max-``_seq``
        row is the base row (a tie on ``_seq`` breaks field by field
        over the payload, then ``_deleted``). A plain table stops
        there. On a patch-enabled
        table patch-carrier rows sit at ``CARRIER_SEQ`` and lose to any
        full event as base, and per payload column the max patch-seq
        overlay applies iff its seq beats the base's. Deletes win as
        base (a patch never resurrects a row), but surviving overlays
        are RETAINED on tombstones so an out-of-order full event
        arriving later is still patched.

        Everything is a max — partially aggregable and a semilattice
        (the reduce's output rows are valid inputs), so map-side
        combine, cross-batch/compaction merging and a
        ``where``-restricted second set of maxes all compose exactly.
        """
        payload = snap.payload_cols()

        def agg(expr: Column, name: str) -> Column:
            if where is not None:
                expr = F.when(where, expr)
            return F.max(expr).alias(prefix + name)

        aggs = [agg(F.struct(SEQ_COL, *payload, DELETED_COL), "_b")]
        if snap.patch_enabled:
            aggs += [
                agg(
                    F.when(
                        F.col(PS_PREFIX + c).isNotNull(),
                        F.struct(
                            F.col(PS_PREFIX + c).alias("ps"), F.col(c).alias("v")
                        ),
                    ),
                    f"_o_{c}",
                )
                for c in payload
            ]
        return aggs

    @staticmethod
    def _latest_cols(snap: Snapshot, prefix: str = "") -> list[Column]:
        """The payload and hidden storage columns of the state that
        ``_latest_aggs(snap, prefix=prefix)`` aggregated (the key is
        the caller's group column)."""
        payload = snap.payload_cols()
        fseq = F.col(f"{prefix}_b.{SEQ_COL}")
        deleted = F.col(f"{prefix}_b.{DELETED_COL}")
        out_vals, out_ps = [], []
        for c in payload:
            # A plain tombstone's payload is already null (``_resolve``
            # writes it so); a patch carrier's base row holds the
            # patch's values, so a deleted base contributes none.
            val = F.col(f"{prefix}_b.{c}")
            if snap.patch_enabled:
                o = F.col(f"{prefix}_o_{c}")
                applied = o.isNotNull() & (o["ps"] > fseq)
                val = F.when(applied, o["v"]).otherwise(
                    F.when(deleted, F.lit(None)).otherwise(val)
                )
                out_ps.append(F.when(applied, o["ps"]).alias(PS_PREFIX + c))
            out_vals.append(val.alias(c))
        return [
            *out_vals,
            fseq.alias(SEQ_COL),
            deleted.alias(DELETED_COL),
            *out_ps,
        ]

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        path = os.path.join(self.meta_dir, f"snapshot-{snapshot_id}.json")
        with open(path) as f:
            return Snapshot.from_json(json.load(f))

    def read(
        self,
        include_hidden: bool = False,
        buckets: Iterable[int] | None = None,
        as_of_snapshot: int | None = None,
    ) -> DataFrame:
        """Table state: reduce base+delta, drop tombstones.

        Re-resolves the version pointer first, so a reader always sees
        the latest committed snapshot (snapshot isolation: the file
        list is fixed once resolved). ``as_of_snapshot`` time-travels
        to an earlier committed snapshot (files are immutable; old
        snapshots remain readable until ``vacuum`` expires them).
        """
        if as_of_snapshot is not None:
            snap = self.snapshot_by_id(as_of_snapshot)
        else:
            snap = self.refresh()
        bset = None if buckets is None else set(buckets)
        files = [f for f in snap.files if bset is None or f.bucket in bset]
        # Buckets whose files are all base files and carry no deltas are
        # already reduced; only delta-bearing buckets' files go through
        # the groupBy. Split by file list, each file is scanned once.
        delta_buckets = {f.bucket for f in files if f.kind == "delta"}
        reduced = self.scan_files(
            files=[f for f in files if f.bucket not in delta_buckets], snap=snap
        )
        if delta_buckets:
            need = [f for f in files if f.bucket in delta_buckets]
            reduced = self._reduce(
                self.scan_files(files=need, snap=snap), snap
            ).unionByName(reduced)
        live = reduced.where(~F.col(DELETED_COL))
        if include_hidden:
            return live
        return live.select(*snap.schema.fieldNames())

    def _file_bloom(self, f: FileEntry) -> str | None:
        """The file's serialized key bloom: inline (pre-round-4
        snapshots) or lazily read from its ``<path>.bloom`` sidecar,
        cached per handle (data files are immutable). Missing/
        unreadable sidecar → None → never pruned (sound)."""
        if f.key_bloom:
            return f.key_bloom
        if not f.bloom_sidecar:
            return None
        if f.path not in self._bloom_cache:
            try:
                with open(os.path.join(self.root, f.path + ".bloom")) as bf:
                    self._bloom_cache[f.path] = bf.read()
            except FileNotFoundError:
                # genuinely absent (e.g. deleted) — cache the miss, it
                # will never appear for an immutable file
                self._bloom_cache[f.path] = None
            except OSError:
                # transient read failure (EMFILE, EIO, NFS blip): skip
                # pruning for THIS call only — caching None here would
                # silently degrade the point-lookup fast path for the
                # handle's lifetime
                return None
        return self._bloom_cache[f.path]

    def lookup_files(self, key_value, snap: Snapshot | None = None) -> list[FileEntry]:
        """The files a point lookup must read: the key's bucket
        (computed DRIVER-SIDE via the ported XXH64 — no Spark job
        before the read), bloom-pruned to the files that might contain
        the key. Sound: blooms have no false negatives, so the
        max-seq reduce over the surviving files is exact. Bloom bytes
        are touched only here, only for this one bucket's files (tiny
        sidecar reads, cached) — never on the commit/refresh path."""
        from ml_data_pipeline_spark.lake.bloom import (
            bloom_might_contain,
            bucket_of,
        )

        snap = snap or self.snapshot
        key_type = snap.schema[snap.key_col].dataType
        bucket = bucket_of(key_value, snap.n_buckets, key_type)
        out = []
        for f in snap.files:
            if f.bucket != bucket:
                continue
            b = self._file_bloom(f)
            if not b or bloom_might_contain(b, key_value):
                out.append(f)
        return out

    def lookup(self, key_value) -> DataFrame:
        """Point lookup: read ONLY the bloom-surviving files of the
        key's bucket (~1 file after compaction), then filter + reduce.
        The bucket is recomputable from the key (driver-side XXH64,
        parity-pinned against F.xxhash64) so no index structure and no
        pre-read Spark job is needed — this is the bucketed-layout
        payoff (reference analog: the dictionary's keyed access,
        string_cache.rs; bloom analog: parquet/writer.rs:37-41).

        When those files are within ``_driver_max_bytes`` the read and
        reduce run on the driver (``_latest_on_driver``) and the answer is
        a local relation: collecting it starts no Spark job. Larger
        inputs, patch-enabled tables and a max-``_seq`` tie between
        differing rows take the Spark plan. A composite-key table has no
        point lookup (``ValueError``)."""
        snap = self.refresh()
        if snap.key_rest:
            raise ValueError(
                f"lookup needs a single-column key; this table's key is "
                f"{snap.key_cols}"
            )
        cand = self.lookup_files(key_value, snap=snap)
        if self._reduces_on_driver(snap, cand):
            rows = self._lookup_on_driver(key_value, cand, snap)
            if rows is not None:
                return self.spark.createDataFrame(rows, snap.schema)
        raw = self.scan_files(files=cand, snap=snap).where(
            F.col(snap.key_col) == F.lit(key_value)
        )
        red = self._reduce(raw, snap)
        return red.where(~F.col(DELETED_COL)).select(*snap.schema.fieldNames())

    def _lookup_on_driver(
        self, key_value, files: Sequence[FileEntry], snap: Snapshot
    ):
        """``lookup``'s answer as a pyarrow table in the user schema, read
        and reduced on the driver (non-patch tables): the files' rows for
        the key, then the max-``_seq`` row unless it is a tombstone. None
        when rows that differ tie on the max ``_seq``."""
        rows = self._read_arrow(files, snap, key=key_value)
        got = _latest_on_driver(rows, snap.key_cols)
        if got is None:
            return None
        latest = got[0][~rows[DELETED_COL].to_numpy(zero_copy_only=False)[got[0]]]
        return rows.take(latest).select(snap.schema.fieldNames())

    def _version_expr(self, snap: Snapshot, of: str = ""):
        """Per-row change version: the highest event seq that shaped
        this row's state — monotone under applied events, constant
        under losing/no-op events (patch overlays count via _ps).
        ``of`` prefixes the column names, e.g. ``"_old."`` to read a
        state held in a struct column."""
        if not snap.patch_enabled:
            return F.col(of + SEQ_COL)
        parts = [F.col(of + SEQ_COL)] + [
            F.coalesce(F.col(of + PS_PREFIX + c), F.lit(CARRIER_SEQ))
            for c in snap.payload_cols()
        ]
        return F.greatest(*parts) if len(parts) > 1 else parts[0]

    def _base_snapshot(self, since_snapshot_id: int) -> Snapshot:
        """The base snapshot of a ``changes()`` window; ValueError if
        vacuum has expired it."""
        try:
            return self.snapshot_by_id(since_snapshot_id)
        except FileNotFoundError:
            raise ValueError(
                f"base snapshot {since_snapshot_id} has been expired by "
                f"vacuum — this consumer's cursor predates the retention "
                f"window; re-bootstrap it (full read + current snapshot "
                f"as the new cursor) or raise vacuum keep_snapshots to "
                f"cover the slowest consumer's lag"
            ) from None

    def _changes_once(
        self, since_snapshot_id: int, until_snap: Snapshot, feed: object
    ) -> DataFrame:
        """``changes(since_snapshot_id, until_snap)`` for ``feed``, computed
        once per snapshot pair while other feeds on this handle are at the
        same cursor. Committed snapshots never change, so the window is a
        pure function of the two ids, and feeds on one handle at one cursor
        (a replica pump and an index sync) can share its rows.

        A feed with no other feed of this handle at its cursor gets the
        ``changes()`` frame as it is. Otherwise a window that ``changes()``
        computed on the driver, already a local relation, is held in one
        slot, replacing the last one, until each of those other feeds has
        taken it. A window that ``changes()`` left to Spark (a patch table,
        a differing tie) is collected once as Arrow and held when its input
        is within ``_driver_max_bytes``; one over the bound stays lazy and
        is never held. A hit still reads the base snapshot, so an expired
        cursor raises ValueError even when its window is held. In perfbench
        lake_serve (4-vCPU host) holding the window took the index sync
        from 0.47 to 0.21 s."""
        key = (since_snapshot_id, until_snap.snapshot_id)
        if self._window is not None and self._window[0] == key:
            self._base_snapshot(since_snapshot_id)
            _, rows, waiting = self._window
            waiting.discard(feed)
            if not waiting:
                self._window = None
            return rows
        self._window = None
        rows = self.changes(since_snapshot_id, until_snap=until_snap)
        others = weakref.WeakSet(
            f for f in self._feeds if f is not feed and f.cursor == since_snapshot_id
        )
        if not others:
            return rows
        if not rows.isLocal():
            base_files, added = self._window_files(
                self._base_snapshot(since_snapshot_id), until_snap
            )
            if self._input_bytes(base_files + added) > self._driver_max_bytes():
                return rows
            rows = self.spark.createDataFrame(rows.toArrow(), rows.schema)
        self._window = (key, rows, others)
        return rows

    @staticmethod
    def _window_files(
        base: Snapshot, snap: Snapshot
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        """The files a ``changes()`` window from ``base`` to ``snap``
        reads: the base files of the buckets it touches, and the files
        added since ``base``."""
        base_paths = {f.path for f in base.files}
        added = [f for f in snap.files if f.path not in base_paths]
        touched = {f.bucket for f in added}
        return [f for f in base.files if f.bucket in touched], added

    def changes(
        self,
        since_snapshot_id: int,
        until_snap: "Snapshot | None" = None,
    ) -> DataFrame:
        """Incremental changes feed (Iceberg incremental-read analog):
        the net per-key change between ``since_snapshot_id`` and the
        current snapshot, as a changelog of (op 'U'|'D', key, payload,
        _seq, …) rows carrying each changed key's NEW full state, plus
        its PREVIOUS payload as ``_old_<col>`` columns (null for a key
        absent or deleted at the base). Derived views that must retract
        old contributions read those, e.g. the inverted token index
        (postings for tokens REMOVED by an update); other consumers
        select what they need.

        Cost is O(new data + touched buckets of the base state), never
        O(table): only files added since the base snapshot are scanned
        for the window, and the base files are read bucket-pruned to
        the buckets those files touch. The new state is the reduce of
        base and window rows, the old state the reduce of base rows.
        Compaction output files are included in the window scan but
        produce no false changes — a key's change *version*, the max
        event seq shaping its state incl. patch overlays, only moves
        when a new event wins. Downstream training pipelines consume
        this instead of re-reading the table.

        Where it runs: input within ``_driver_max_bytes`` on a plain
        table is read and reduced on the driver (``_changes_on_driver``)
        and returned as a local relation, so collecting it starts no
        Spark job. Patch tables, larger input and a max-``_seq`` tie
        between differing rows get a lazy Spark plan: base and window rows
        go through ONE ``groupBy(key)`` holding two sets of the reduce's
        maxes, over all rows (the new state) and over base rows only (the
        old state). Each base file is scanned once and nothing is joined.

        Correctness precondition: no ``compact(gc_before_seq=...)``
        inside the window may have GC'd a tombstone this feed hasn't
        delivered yet (see ``compact``'s contract) — otherwise the net
        delete is unobservable from the file diff.

        ``until_snap`` pins the window's upper bound to an explicit
        snapshot (default: refresh to the current head). Consumers
        that report a target snapshot id alongside the window — e.g.
        ``ChangesFeed.poll`` — MUST pass the snapshot they report, or
        a commit landing between their refresh and this call silently
        widens the delivered window past the recorded cursor.
        """
        snap = until_snap or self.refresh()
        base_files, added = self._window_files(
            self._base_snapshot(since_snapshot_id), snap
        )
        if self._reduces_on_driver(snap, base_files + added):
            rows = self._changes_on_driver(base_files, added, snap)
            if rows is not None:
                return rows
        # With nothing added both scans are empty local relations, and
        # the optimizer folds the whole plan to an empty one. The base
        # FILES are scanned under the CURRENT snapshot's storage schema
        # (snap.schemas keeps every historical fingerprint), so both
        # sides align even across mid-window schema evolution. The old
        # state keeps tombstones: a delete followed by re-insert must
        # read as a change.
        rows = (
            self.scan_files(files=base_files, snap=snap)
            .withColumn("_in_base", F.lit(True))
            .unionByName(
                self.scan_files(files=added, snap=snap).withColumn(
                    "_in_base", F.lit(False)
                )
            )
        )
        state = (
            rows.groupBy(*snap.key_cols)
            .agg(
                *self._latest_aggs(snap),
                *self._latest_aggs(snap, where=F.col("_in_base"), prefix="_old"),
            )
            .select(
                *snap.key_cols,
                *self._latest_cols(snap),
                F.struct(*self._latest_cols(snap, prefix="_old")).alias("_old"),
            )
        )
        # _old._seq is null iff the key has no base row; the old
        # version cannot say so (on patch tables it never reads null).
        base_absent = F.col(f"_old.{SEQ_COL}").isNull()
        old_ver = self._version_expr(snap, of="_old.")
        changed = state.where(
            base_absent | (self._version_expr(snap) > old_ver)
        ).where(
            # a key absent at the base (never existed, or tombstoned)
            # that is still/again deleted now is not a net change
            ~(F.col(DELETED_COL) & (base_absent | F.col(f"_old.{DELETED_COL}")))
        )
        return changed.select(
            F.when(F.col(DELETED_COL), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            *snap.storage_schema().fieldNames(),
            *[
                F.when(~F.col(f"_old.{DELETED_COL}"), F.col(f"_old.{c}")).alias(
                    f"_old_{c}"
                )
                for c in snap.payload_cols()
            ],
        )

    def _changes_on_driver(
        self, base_files: list[FileEntry], added: list[FileEntry], snap: Snapshot
    ) -> DataFrame | None:
        """``changes()``' Spark plan, computed on the driver for a plain
        table: the new state is the reduce of base and window rows, the
        old state the reduce of the base rows, aligned to the new one by
        key; then the same filters and projection. The answer is a local
        relation with the Spark plan's schema. None on a differing tie
        (``_latest_on_driver``).

        Measured on perfbench ``lake_serve``'s windows (seed-41 inputs,
        4-vCPU host, warm cycles 2-5 of 5, alternating in one process;
        ~2.8 MB of parquet in, 4.3k rows out): the Spark window, built and
        collected into a local relation as ``_changes_once`` held it, took
        500-775 ms; this took 54-66 ms, the local relation included, of
        which the file reads are ~25 ms and ``createDataFrame`` ~30 ms."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        base = self._read_arrow(base_files, snap)
        rows = pa.concat_tables([base, self._read_arrow(added, snap)])
        in_base = np.zeros(rows.num_rows, dtype=bool)
        in_base[: base.num_rows] = True
        got = _latest_on_driver(rows, snap.key_cols, in_base)
        if got is None:
            return None
        new, old = got
        seq = rows[SEQ_COL].to_numpy()
        deleted = rows[DELETED_COL].to_numpy(zero_copy_only=False)
        has_old = old >= 0
        old_at = np.where(has_old, old, 0)
        old_deleted = has_old & deleted[old_at]
        # the Spark plan's two filters: the version moved (or the key is
        # new), and the key is not deleted at both ends
        keep = (~has_old | (seq[new] > seq[old_at])) & ~(
            deleted[new] & (~has_old | old_deleted)
        )
        out = rows.take(new[keep])
        old_live = pa.array(old[keep], mask=~(has_old & ~old_deleted)[keep])
        cols = {
            "op": pc.if_else(out[DELETED_COL], "D", "U"),
            **{c: out[c] for c in out.column_names},
            **{f"_old_{c}": rows[c].take(old_live) for c in snap.payload_cols()},
        }
        return self.spark.createDataFrame(
            pa.table(cols), self._changes_schema(snap)
        )

    @staticmethod
    def _changes_schema(snap: Snapshot) -> T.StructType:
        """The schema of ``changes()``' Spark plan: ``op``, never null,
        then the storage columns and the ``_old_<col>`` columns, all
        nullable (files are read nullable)."""
        storage = snap.storage_schema()
        return T.StructType(
            [
                T.StructField("op", T.StringType(), False),
                *(T.StructField(f.name, f.dataType, True) for f in storage),
                *(
                    T.StructField(f"_old_{c}", storage[c].dataType, True)
                    for c in snap.payload_cols()
                ),
            ]
        )

    # ---------------------------------------------------------------- merge

    def already_applied(self, stream_id: str, batch_id: int) -> bool:
        wm = self.snapshot.watermarks.get(stream_id)
        return wm is not None and batch_id <= wm

    def merge_batch(
        self,
        events: DataFrame,
        *,
        batch_id: int | None = None,
        stream_id: str = "default",
        exclude_cols: Sequence[str] = ("ts", "chunk"),
        _key_unique: bool = False,
    ) -> dict:
        """Apply one micro-batch of change events. Returns metrics dict.

        ``events`` columns: ``op`` ('I'|'U'|'D'), ``seq`` (long, the
        LSN), the key column, payload columns; ``exclude_cols`` are not
        stored. Semantics: per key the max-``seq`` event wins,
        globally, across batches and replays — enforced within the
        batch here and across batches by the read/compaction reduce
        over stored ``_seq``.

        Patch-enabled tables (created with properties
        ``{"patch.enabled": "true"}``) additionally accept op 'P' —
        a partial-column update that sets only its non-null payload
        columns. Semantics are exact ordered-replay last-writer-wins
        per column: a full event replaces every column; a patch
        overlays the columns it sets until a higher-seq full event; a
        delete kills the row (patches never resurrect); out-of-order
        arrival across batches resolves identically (the reduce is a
        semilattice over per-column seqs).

        Invalid events (see ``_validate``) are kept out of the table
        and appended with their reason to ``<table>/quarantine``; the
        rest of the batch commits. The in-batch reduce combines map-side,
        so a hot key reaches its reducer as at most one row per map task.

        Exactly-once: if ``batch_id`` is at-or-below the stream's
        committed watermark the call is a no-op (replay after restart).

        ``_key_unique`` is set by ``ChangesFeed._sink`` alone: its events
        hold at most one row per key, so the in-batch reduce would return
        them unchanged and is skipped. Readers and compaction reduce each
        bucket's files again (the reduce is a semilattice), so input that
        broke the promise would change the rows written, never the
        table's state.
        """
        # Re-resolve the committed pointer: another handle to the same
        # table (CLI, streaming runner) may have committed since this
        # instance last looked — building on a stale snapshot would
        # fork history and clobber those commits.
        snap = self.refresh()

        def skipped(head: Snapshot) -> dict:
            return {
                "skipped": True,
                "stream_id": stream_id,
                "batch_id": batch_id,
                "snapshot_id": head.snapshot_id,
            }

        if batch_id is not None and self.already_applied(stream_id, batch_id):
            return skipped(snap)
        have, schema, validate, counts = self._merge_exprs(
            events, snap, tuple(exclude_cols)
        )
        rows = events
        if not _key_unique:
            # Input whose bytes fit the smallest split Spark sizes (never
            # below min(maxPartitionBytes, openCostInBytes), 1 MB in this
            # engine's session) runs as one task, even when it spans a few
            # files: the resolve's aggregate then needs no exchange, and
            # the merge is one job instead of a map stage plus the
            # write's collect (perfbench lake_serve's 2k-event commits:
            # p50 110 -> 90 ms, 4-vCPU host). Larger input keeps the
            # map-side combine in front of an exchange, which a hot key
            # then reaches as one row per map task.
            conf = self.spark._jsparkSession.sessionState().conf()
            one_split = min(
                conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()
            )
            if self._size_estimate(events) <= one_split:
                rows = events.coalesce(1)
        # The reason is observed during the delta write (no extra
        # pass); the quarantine write runs only when invalid rows exist.
        obs = Observation()
        valid = (
            rows.select(*validate)
            .observe(obs, *counts)
            .where(F.col("_reason").isNull())
        )
        # self._snapshot is NOT touched until _write_snapshot's commit
        # succeeds: if the write or the commit fails, the handle still
        # points at the last committed snapshot and a retry builds on
        # real state.
        target = snap.child(schema.jsonValue())
        new_files, write_path = self._write_files(
            self._resolve(valid, target, have, reduce=not _key_unique),
            kind="delta",
            snap=target,
        )
        n_rows = sum(f.rows for f in new_files)
        touched = sorted({f.bucket for f in new_files})
        # fp describes the files AS WRITTEN — it must survive rebases
        # unchanged even if the rebased snapshot's schema moves on.
        storage = target.storage_schema()
        fp, written_schema_json = _schema_fp(storage), storage.jsonValue()
        evolved = False

        def build(head: Snapshot) -> Snapshot | None:
            # The delta files are immutable and schema-fingerprinted, so
            # a rebase onto a winner's head is metadata only: its files,
            # watermarks and schemas, with the schema re-merged through
            # the lattice.
            nonlocal evolved
            if batch_id is not None and self.already_applied(stream_id, batch_id):
                # The winner (or an earlier replay) applied this very
                # batch — exactly-once still holds; our delta files stay
                # unreferenced until vacuum.
                return None
            merged = merge_schemas(head.schema, schema)
            evolved = evolved or merged != head.schema
            nxt = head.child(merged.jsonValue())
            nxt.schemas[fp] = written_schema_json
            nxt.files += new_files
            if batch_id is not None:
                nxt.watermarks[stream_id] = batch_id
            nxt.summary = {
                "operation": "merge",
                "stream_id": stream_id,
                "batch_id": batch_id,
                "upsert_rows": n_rows,
                "touched_buckets": touched,
                "evolved": evolved,
                "write_path": write_path,
            }
            return nxt

        committed = self._commit(snap, build)
        if committed is None:
            return skipped(self.snapshot)

        # --- quarantine write (post-commit, advisory) --------------------
        try:
            got = obs.get  # populated by the delta-write action above
        except Py4JJavaError:
            # The observed node never ran: the optimizer pruned a plan
            # whose input is empty (a feed window holding only a
            # compaction), so it emitted no metrics row. With nothing
            # written, that means no events came in.
            if new_files:
                raise
            got = {}
        events_in = int(got.get("events_in") or 0)
        events_invalid = int(got.get("events_invalid") or 0)
        if events_invalid > 0:
            (
                events.select(*validate)
                .where(F.col("_reason").isNotNull())
                .withColumn("_batch_id", F.lit(batch_id).cast("long"))
                .withColumn("_stream_id", F.lit(stream_id))
                .write.mode("append")
                .parquet(os.path.join(self.root, "quarantine"))
            )
        return {
            "skipped": False,
            "stream_id": stream_id,
            "batch_id": batch_id,
            "snapshot_id": committed.snapshot_id,
            "upsert_rows": n_rows,
            "touched_buckets": touched,
            "schema_evolved": evolved,
            "events_in": events_in,
            "events_invalid": events_invalid,
            "new_files": [f.to_json() for f in new_files],
            "write_path": write_path,
        }

    def _merge_exprs(
        self, events: DataFrame, snap: Snapshot, exclude_cols: tuple[str, ...]
    ) -> tuple[list[str], T.StructType, list[Column], list[Column]]:
        """``_validate``'s verdict on ``events`` against ``snap``: the
        payload columns the batch carries, the merged table schema, the
        validate projection (every input column plus ``_reason``) and the
        Observation's counts. Built once per (input schema, table
        schema): a schema not seen before is validated again, so an
        incompatible batch raises before anything is written."""

        def build():
            have, merged, reason = self._validate(events, snap, exclude_cols)
            return (
                have,
                merged,
                [F.col("*"), reason.alias("_reason")],
                [
                    F.count(F.lit(1)).alias("events_in"),
                    F.count("_reason").alias("events_invalid"),
                ],
            )

        key = (
            "merge",
            events.schema.json(),
            json.dumps(snap.schema_json, sort_keys=True),
            tuple(snap.key_cols),
            snap.patch_enabled,
            exclude_cols,
        )
        return self._memo(key, build)

    def _validate(
        self, events: DataFrame, snap: Snapshot, exclude_cols: Sequence[str]
    ) -> tuple[list[str], T.StructType, Column]:
        """Check a batch against ``snap`` before anything is written.

        Returns the payload columns the batch carries, the table schema
        with the batch's merged in, and the per-event quarantine reason
        (null for a valid event). Raises ``SchemaMismatch`` when the
        batch's schema cannot merge, and on any change to a key
        column's type: rows are bucketed by the first key column's
        ``xxhash64``, which differs for an int and the same value as a
        bigint, so a widened key would put an existing key in a second
        bucket; and a row's identity is the key, which must compare
        equal across batches.
        """
        drop = {EVENT_SEQ, EVENT_OP, *exclude_cols}
        incoming = T.StructType(
            [f for f in events.schema.fields if f.name not in drop]
        )
        assert_lake_payload_type(incoming)
        merged = merge_schemas(snap.schema, incoming)
        null_key = None
        for key in snap.key_cols:
            if merged[key].dataType != snap.schema[key].dataType:
                raise SchemaMismatch(
                    f"key column {key!r} cannot change type "
                    f"{snap.schema[key].dataType.simpleString()} -> "
                    f"{incoming[key].dataType.simpleString()}: rows are "
                    f"bucketed and identified by the key"
                )
            c = F.col(key).isNull()
            null_key = c if null_key is None else (null_key | c)
        # Bad-record quarantine (reference C1: corrupt-record detection,
        # ml-data-readers/src/binary.rs:238-270): invalid events must
        # not poison the table NOR abort the batch.
        ops = ("I", "U", "D", "P") if snap.patch_enabled else ("I", "U", "D")
        reason = (
            F.when(null_key, "null_key")
            .when(F.col(EVENT_SEQ).isNull(), "null_seq")
            # NULL op must be its own branch: ~isin(...) is NULL
            # (not true) for NULL, which would let the row through
            # with _deleted=NULL and silently vanish from reads.
            .when(F.col(EVENT_OP).isNull(), "null_op")
            .when(~F.col(EVENT_OP).isin(*ops), "bad_op")
        )
        if "tokens" in events.columns and "n_tok" in events.columns:
            reason = reason.when(
                (F.col(EVENT_OP) != "D")
                & F.col("tokens").isNotNull()
                & F.col("n_tok").isNotNull()
                & (F.col("n_tok") != F.size("tokens")),
                "n_tok_mismatch",
            )
        return incoming.fieldNames(), merged, reason

    def _resolve(
        self,
        events: DataFrame,
        snap: Snapshot,
        have: Sequence[str],
        *,
        reduce: bool = True,
    ) -> DataFrame:
        """Valid ``events`` reduced per key (max ``seq`` wins inside the
        batch) to storage rows of ``snap``, the in-flight snapshot whose
        schema already includes the batch's. ``have`` names the payload
        columns the events carry; the others are null. ``reduce=False``
        returns the storage rows unreduced, for events that hold at most
        one row per key."""
        full, patches = self._memo(
            (
                "resolve",
                json.dumps(snap.schema_json, sort_keys=True),
                tuple(snap.key_cols),
                snap.patch_enabled,
                tuple(have),
            ),
            lambda: self._resolve_exprs(snap, have),
        )
        if patches is None:
            rows = events.select(*full)
        else:
            rows = (
                events.where(F.col(EVENT_OP) != "P")
                .select(*full)
                .unionByName(events.where(F.col(EVENT_OP) == "P").select(*patches))
            )
        return self._reduce(rows, snap) if reduce else rows

    @staticmethod
    def _resolve_exprs(
        snap: Snapshot, have: Sequence[str]
    ) -> tuple[list[Column], list[Column] | None]:
        """``_resolve``'s projections of change events to storage rows of
        ``snap``: one for full events, and on a patch-enabled table one
        for patch events (None otherwise)."""
        keys = snap.key_cols
        payload = snap.payload_cols()
        have = set(have)
        deleted = F.col(EVENT_OP) == F.lit("D")
        # Full events (I/U/D): ordinary rows, no overlays. A delete's
        # payload is null so tombstones carry no stale data.
        full = [
            (
                _aligned(f, have)
                if f.name in keys
                else F.when(deleted, F.lit(None).cast(f.dataType)).otherwise(
                    _aligned(f, have)
                )
            ).alias(f.name)
            for f in snap.schema.fields
        ]
        full += [
            F.col(EVENT_SEQ).cast("long").alias(SEQ_COL),
            deleted.alias(DELETED_COL),
        ]
        if not snap.patch_enabled:
            return full, None
        full += [F.lit(None).cast("long").alias(PS_PREFIX + c) for c in payload]
        # Patch events: carrier rows at CARRIER_SEQ (lose to any full
        # event as base; _deleted=true so an all-patch history
        # materializes no row) carrying per-column overlay seqs.
        pseq = F.col(EVENT_SEQ).cast("long")
        patches = [
            *_align(snap.schema, have),
            F.lit(CARRIER_SEQ).cast("long").alias(SEQ_COL),
            F.lit(True).alias(DELETED_COL),
            *[
                (
                    F.when(F.col(c).isNotNull(), pseq)
                    if c in have
                    else F.lit(None).cast("long")
                ).alias(PS_PREFIX + c)
                for c in payload
            ],
        ]
        return full, patches

    def _commit(
        self, base: Snapshot, build: Callable[[Snapshot], Snapshot | None]
    ) -> Snapshot | None:
        """Optimistic commit (an atomic put-if-absent loop, as in Delta
        Lake and Iceberg): commit ``build(head)``, the next snapshot on
        ``head``, starting from ``head = base``. When another writer
        has committed that id, refresh and build again on the winner's
        snapshot. Returns the committed snapshot, or None once
        ``build`` returns None (nothing left to commit)."""
        head = base
        for _attempt in range(COMMIT_ATTEMPTS):
            snap = build(head)
            if snap is None:
                return None
            try:
                self._write_snapshot(snap)
                return snap
            except CommitConflict:
                head = self.refresh()
        raise CommitConflict(
            f"lost {COMMIT_ATTEMPTS} consecutive commit races — check for "
            f"a runaway writer storm on this table"
        )

    # ------------------------------------------------------------- compact

    def _compact_into(
        self,
        snap: Snapshot,
        buckets: Sequence[int],
        gc_before_seq: int | None,
    ) -> str | None:
        """Rewrite the given buckets of ``snap`` as reduced base files.

        Mutates ``snap.files``/``snap.schemas`` in place; caller commits.
        Returns ``_write_files``' write path, None when nothing was
        rewritten.
        """
        bset = set(buckets)
        victims = [f for f in snap.files if f.bucket in bset]
        if not victims:
            return None
        new_files = (
            self._compact_on_driver(victims, snap, gc_before_seq)
            if self._reduces_on_driver(snap, victims)
            else None
        )
        write_path = "driver"
        if new_files is None:
            reduced = self._reduce(self.scan_files(files=victims, snap=snap), snap)
            if gc_before_seq is not None:
                # Keep tombstones whose version (on patch tables the base
                # OR any overlay seq: a patch-carrier tombstone still
                # guards its overlays for a late full event) is at/after
                # the watermark.
                reduced = reduced.where(
                    (~F.col(DELETED_COL))
                    | (self._version_expr(snap) >= F.lit(gc_before_seq))
                )
            new_files, write_path = self._write_files(
                reduced, kind="base", snap=snap
            )
        fp = _schema_fp(snap.storage_schema())
        snap.schemas[fp] = snap.storage_schema().jsonValue()
        keep = [f for f in snap.files if f.bucket not in bset]
        snap.files = keep + new_files
        return write_path

    def _compact_on_driver(
        self, victims: list[FileEntry], snap: Snapshot, gc_before_seq: int | None
    ) -> list[FileEntry] | None:
        """``_compact_into``'s reduce and write on the driver (a plain
        table): the victims' rows reduced per key, tombstones older than
        ``gc_before_seq`` dropped, and each bucket written by
        ``_write_arrow``, with no Spark job. None on a differing tie
        (``_latest_on_driver``).

        Measured on perfbench ``lake_serve``'s compactions (same run as
        ``_changes_on_driver``'s figure; ~0.8 MB rewritten): the Spark
        reduce job plus the driver write's collect took 337-439 ms, this
        42-58 ms."""
        import pyarrow.compute as pc

        rows = self._read_arrow(victims, snap, with_bucket=True)
        got = _latest_on_driver(rows, snap.key_cols)
        if got is None:
            return None
        rows = rows.take(got[0])
        if gc_before_seq is not None:
            rows = rows.filter(
                pc.or_(
                    pc.invert(rows[DELETED_COL]),
                    pc.greater_equal(rows[SEQ_COL], gc_before_seq),
                )
            )
        return self._write_arrow(rows, "base", snap)

    def compact(
        self,
        buckets: Sequence[int] | None = None,
        gc_before_seq: int | None = None,
    ) -> dict:
        """Fold delta files into base files (optionally GC old tombstones).

        ``gc_before_seq`` CONTRACT: it must stay at-or-below the
        oldest snapshot any ``changes()`` consumer still reads from.
        A tombstone GC'd inside a consumer's unread window makes the
        net delete invisible to that consumer (the key silently
        vanishes instead of emitting a 'D' row). The built-in replay
        path never passes ``gc_before_seq``; if you wire it up, gate
        it on the minimum consumer cursor exactly like Iceberg gates
        snapshot expiry on incremental-read consumers.
        """

        def build(head: Snapshot) -> Snapshot:
            # After a lost race the fold is redone from the winner's
            # head, so it includes the winner's files; a losing
            # attempt's output files await vacuum.
            bs = (
                sorted({f.bucket for f in head.files if f.kind == "delta"})
                if buckets is None
                else list(buckets)
            )
            nxt = head.child()
            write_path = self._compact_into(nxt, bs, gc_before_seq)
            nxt.summary = {
                "operation": "compact",
                "buckets": list(map(int, bs)),
                "write_path": write_path,
            }
            return nxt

        # never compact from a stale snapshot
        snap = self._commit(self.refresh(), build)
        return {
            "snapshot_id": snap.snapshot_id,
            "buckets": snap.summary["buckets"],
            "write_path": snap.summary["write_path"],
        }

    def delta_file_count(self) -> int:
        return sum(1 for f in self.snapshot.files if f.kind == "delta")

    # -------------------------------------------------------------- vacuum

    def vacuum(
        self, keep_snapshots: int = 1, orphan_grace_sec: float = 3600.0
    ) -> dict:
        """Delete data files unreachable from the ``keep_snapshots``
        most recent snapshots, and expire older snapshot metadata.

        Compaction/merge never delete files (snapshot isolation +
        time travel need them); vacuum is the explicit GC boundary —
        after it, ``as_of_snapshot`` works only for kept snapshots,
        and any ``changes()``/``ChangesFeed`` consumer whose cursor
        predates the kept window must re-bootstrap — size
        ``keep_snapshots`` to cover the slowest consumer's lag,
        exactly like Iceberg gates ``expire_snapshots``.

        Multi-writer safety: files referenced by NO snapshot at all
        fall into two indistinguishable classes — losers of commit
        races (garbage) and the in-flight, not-yet-committed write of
        a CONCURRENT merge (deleting those would corrupt the commit
        that is about to reference them). Never-referenced files are
        therefore only deleted once older than ``orphan_grace_sec``
        (no sane in-flight write outlives an hour); files referenced
        by an EXPIRED snapshot were durably committed and superseded,
        so they delete immediately.
        """
        import time as _time

        current = self.refresh()
        snaps = self.history()
        kept = [
            s
            for s in snaps
            if s.snapshot_id > current.snapshot_id - max(1, keep_snapshots)
        ]
        referenced = {
            os.path.join(self.root, f.path) for s in kept for f in s.files
        }
        ever_committed = {
            os.path.join(self.root, f.path) for s in snaps for f in s.files
        }
        now = _time.time()
        removed_files = 0
        for dirpath, _dirs, files in os.walk(self.data_dir):
            for name in files:
                full = os.path.join(dirpath, name)
                if name.endswith(".tmp"):
                    # Orphaned temp file of a failed/retried write
                    # attempt (the single-pass writer publishes via
                    # atomic rename); sweep once past the grace window.
                    try:
                        if now - os.path.getmtime(full) >= orphan_grace_sec:
                            os.remove(full)
                            removed_files += 1
                    except OSError:
                        pass
                    continue
                if name.endswith(".bloom"):
                    # Bloom sidecars live and die with their data file:
                    # orphaned (parquet already gone) → sweep.
                    if not os.path.exists(full[: -len(".bloom")]):
                        try:
                            os.remove(full)
                            removed_files += 1
                        except OSError:
                            pass
                    continue
                if not name.endswith(".parquet") or full in referenced:
                    continue
                if full not in ever_committed:
                    try:
                        age = now - os.path.getmtime(full)
                    except OSError:
                        continue
                    if age < orphan_grace_sec:
                        continue  # possibly an in-flight concurrent write
                os.remove(full)
                removed_files += 1
                try:
                    os.remove(full + ".bloom")
                    removed_files += 1
                except OSError:
                    pass
        # prune now-empty write directories
        for dirpath, dirs, files in os.walk(self.data_dir, topdown=False):
            if dirpath != self.data_dir and not dirs and not files:
                os.rmdir(dirpath)
        removed_snaps = 0
        kept_ids = {s.snapshot_id for s in kept}
        for s in snaps:
            if s.snapshot_id not in kept_ids:
                os.remove(
                    os.path.join(self.meta_dir, f"snapshot-{s.snapshot_id}.json")
                )
                removed_snaps += 1
        return {
            "removed_files": removed_files,
            "removed_snapshots": removed_snaps,
            "kept_snapshots": sorted(kept_ids),
        }
