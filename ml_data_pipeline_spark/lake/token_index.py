"""TokenIndex — an incrementally-maintained inverted index
(token → doc postings) over the lake table's token arrays.

The secondary-index piece of a training-data pipeline: membership
("which documents contain token t?") and benchmark-contamination
checks ("which documents contain this whole token sequence?") must
not scan 100 TB of token arrays per probe. The index is a derived
view kept up to date from the table's ``ChangesFeed`` — the consumer
side of the CDC engine eating its own output.

Layout (its own structure, deliberately simpler than LakeTable):
``root/bucket=<pmod(xxhash64(token), n_buckets)>/*.parquet`` holding
posting rows ``(token, doc_id, ver, present)``. Per feed window the
sync appends, for every changed document:

* ``present=true``  rows for the NEW state's distinct tokens,
* ``present=false`` rows for tokens REMOVED by the update (old minus
  new — from the ``_old_<tokens>`` column ``changes()`` carries) or
  for ALL old tokens on a delete,

each stamped with the document's change version ``ver``. A read
reduces per (token, doc_id) by max ``ver`` (present flag rides
along) — the same LWW semilattice as the main table, so re-delivered
windows (crash between append and cursor commit) collapse to the
identical state: appends are idempotent under the reduce.

Scale shape: a probe for one token reads ONE bucket directory
(1/n_buckets of the index); the per-window append is one shuffle of
exploded (token, doc) pairs, partitioned by bucket; compaction folds
a bucket's appends into one reduced file. The postings themselves
never pass through the driver.

Reference analog: the string-dictionary's keyed access
(/root/reference/ml-data/ml-data-core/src/string_cache.rs) — the
token→postings map is the same inverted shape, kept incrementally
fresh instead of rebuilt.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ml_data_pipeline_spark.lake.feed import ChangesFeed
from ml_data_pipeline_spark.lake.table import DELETED_COL, LakeTable

POSTING_SCHEMA = T.StructType(
    [
        T.StructField("token", T.IntegerType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("ver", T.LongType(), False),
        T.StructField("present", T.BooleanType(), False),
    ]
)


class TokenIndex:
    """Inverted token→doc index, synced from a LakeTable's feed."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)

    # ------------------------------------------------------------ lifecycle

    @property
    def meta_path(self) -> str:
        return os.path.join(self.root, "_index.json")

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        *,
        tokens_col: str = "tokens",
        n_buckets: int = 16,
        stop_tokens: list[int] | None = None,
    ) -> "TokenIndex":
        """``stop_tokens`` is the index's skew bound (the ngram
        operator's stop-shingle cutoff, applied to postings): a token
        present in nearly every document would add O(corpus) posting
        rows to ONE bucket per window and answer no membership
        question anyone asks. Stop tokens are excluded at sync time
        and rejected at probe time (explicitly — never silently
        empty)."""
        ix = cls(spark, root)
        os.makedirs(ix.root, exist_ok=True)
        if os.path.exists(ix.meta_path):
            raise ValueError(f"index already exists at {root}")
        tmp = ix.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "tokens_col": tokens_col,
                    "n_buckets": n_buckets,
                    "stop_tokens": sorted(set(map(int, stop_tokens or []))),
                },
                f,
            )
        os.replace(tmp, ix.meta_path)
        return ix

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "TokenIndex":
        ix = cls(spark, root)
        ix.meta  # raises if absent
        return ix

    @property
    def meta(self) -> dict:
        with open(self.meta_path) as f:
            return json.load(f)

    def _bucket_expr(self, token_col):
        return F.pmod(
            F.xxhash64(token_col.cast("long")),
            F.lit(self.meta["n_buckets"]),
        ).cast("int")

    def _without_stop(self, toks: Column) -> Column:
        """The token array ``toks`` minus the index's stop tokens."""
        stop = self.meta.get("stop_tokens") or []
        if not stop:
            return toks
        return F.array_except(toks, F.array(*[F.lit(int(t)) for t in stop]))

    def _append(self, postings: DataFrame) -> None:
        """Write ``postings`` as one new window, one directory per
        token bucket."""
        out_dir = os.path.join(self.root, f"win-{uuid.uuid4().hex}")
        (
            postings.withColumn("bucket", self._bucket_expr(F.col("token")))
            .repartition(F.col("bucket"))
            .write.partitionBy("bucket")
            .parquet(out_dir)
        )

    # ---------------------------------------------------------------- sync

    def sync(self, feed: ChangesFeed) -> dict:
        """Drain the feed into the index, one window at a time,
        exactly-once end-to-end: appends are idempotent under the
        (token, doc) max-ver reduce, and the cursor commits after each
        window's append — a crash in between re-appends the same
        window, which reduces to the same state.
        """
        tokens_col = self.meta["tokens_col"]
        windows = 0
        while True:
            df, target = feed.poll()
            if df is None:
                return {"windows": windows, "cursor": feed.cursor}
            key = feed.table.snapshot.key_col
            ver = feed.table._version_expr(feed.table.snapshot).alias("ver")
            # coalesce BOTH sides to empty: a live row whose tokens
            # column is NULL (legal update) must retract all its old
            # postings, not silently keep them (array_except(x, NULL)
            # is NULL → no delete rows emitted)
            new_tok = self._without_stop(
                F.coalesce(
                    F.when(
                        ~F.col(DELETED_COL), F.array_distinct(F.col(tokens_col))
                    ),
                    F.array().cast("array<int>"),
                )
            )
            old_tok = self._without_stop(
                F.coalesce(
                    F.array_distinct(F.col(f"_old_{tokens_col}")),
                    F.array().cast("array<int>"),
                )
            )
            base = df.select(
                F.col(key).alias("doc_id"),
                ver,
                new_tok.alias("_new"),
                old_tok.alias("_old"),
            )
            adds = base.select(
                F.explode("_new").alias("token"),
                "doc_id",
                "ver",
                F.lit(True).alias("present"),
            )
            dels = base.select(
                F.explode(F.array_except("_old", "_new")).alias("token"),
                "doc_id",
                "ver",
                F.lit(False).alias("present"),
            )
            self._append(adds.unionByName(dels))
            feed.commit(target)
            windows += 1

    def rebuild(self, feed: ChangesFeed) -> dict:
        """Full re-sync for an index whose feed cursor predates vacuum
        retention (``changes()`` raises ValueError): one scan of the
        table's CURRENT live state writes a complete posting window,
        and the cursor commits at the scanned snapshot — after which
        ``sync`` resumes incrementally with no gap.

        Requires an index with NO existing windows (recreate it): a
        full-state load carries no retraction rows for stale postings
        an old index may hold — the same exact-over-almost-right
        stance as ``ChangesFeed.bootstrap``. A rebuild that crashed
        between window write and cursor commit leaves windows behind;
        the error message says to recreate, which is always safe.
        """
        if any(d.startswith("win-") for d in os.listdir(self.root)):
            raise ValueError(
                "rebuild requires an index with no windows — delete and "
                "recreate the index directory (safe: the index is a "
                "derived view), then rebuild"
            )
        tokens_col = self.meta["tokens_col"]
        snap = feed.table.refresh()
        ver = feed.table._version_expr(snap).alias("ver")
        key = snap.key_col
        state = feed.table.read(include_hidden=True)
        toks = self._without_stop(F.array_distinct(F.col(tokens_col)))
        postings = state.select(
            F.col(key).alias("doc_id"), ver, toks.alias("_t")
        ).select(
            F.explode("_t").alias("token"),
            "doc_id",
            "ver",
            F.lit(True).alias("present"),
        )
        self._append(postings)
        feed.commit(snap.snapshot_id)
        return {"rebuilt": True, "cursor": snap.snapshot_id}

    # ---------------------------------------------------------------- read

    def _scan(self, buckets: list[int] | None = None) -> DataFrame:
        """Posting rows from the selected bucket directories across all
        window appends (leaf-dir reads — the bucket is path metadata,
        recomputable from the token, never a data column)."""
        bset = None if buckets is None else set(buckets)
        paths = []
        for w in sorted(os.listdir(self.root)):
            if not w.startswith("win-"):
                continue
            wdir = os.path.join(self.root, w)
            for b in os.listdir(wdir):
                if not b.startswith("bucket="):
                    continue
                if bset is None or int(b.split("=", 1)[1]) in bset:
                    paths.append(os.path.join(wdir, b))
        if not paths:
            return self.spark.createDataFrame([], POSTING_SCHEMA)
        return self.spark.read.schema(POSTING_SCHEMA).parquet(*paths)

    @staticmethod
    def _reduce(postings: DataFrame) -> DataFrame:
        packed = postings.groupBy("token", "doc_id").agg(
            F.max(F.struct("ver", "present")).alias("_p")
        )
        return packed.select(
            "token",
            "doc_id",
            F.col("_p.ver").alias("ver"),
            F.col("_p.present").alias("present"),
        )

    def _reject_stop(self, tokens) -> None:
        stop = set(self.meta.get("stop_tokens") or [])
        bad = sorted(stop & {int(t) for t in tokens})
        if bad:
            raise ValueError(
                f"tokens {bad} are stop tokens — not indexed (skew "
                f"bound); drop them from the probe"
            )

    def postings(self, token: int) -> DataFrame:
        """Documents currently containing ``token`` — reads ONE bucket."""
        from ml_data_pipeline_spark.lake.bloom import spark_xxhash64

        self._reject_stop([token])
        bucket = spark_xxhash64(int(token)) % self.meta["n_buckets"]
        raw = self._scan([bucket]).where(F.col("token") == int(token))
        return (
            self._reduce(raw)
            .where(F.col("present"))
            .select("doc_id", "ver")
        )

    def containing_all(self, tokens: list[int]) -> DataFrame:
        """Documents containing EVERY token in ``tokens`` (the
        contamination-check primitive): reads len(set(tokens)) buckets,
        intersects via a count-matching groupBy — no full-table scan.
        """
        from ml_data_pipeline_spark.lake.bloom import spark_xxhash64

        toks = sorted({int(t) for t in tokens})
        self._reject_stop(toks)
        buckets = sorted(
            {spark_xxhash64(t) % self.meta["n_buckets"] for t in toks}
        )
        raw = self._scan(list(buckets)).where(F.col("token").isin(toks))
        live = self._reduce(raw).where(F.col("present"))
        return (
            live.groupBy("doc_id")
            .agg(F.countDistinct("token").alias("_n"))
            .where(F.col("_n") == len(toks))
            .select("doc_id")
        )

    def contaminated_docs(
        self, table: LakeTable, sequence: list[int]
    ) -> DataFrame:
        """Documents whose token array contains ``sequence`` as a
        CONTIGUOUS subsequence — the benchmark-contamination check.

        Two stages, both pruned: (1) candidate retrieval from the
        index (``containing_all`` — set membership over
        len(set(sequence)) index buckets), then (2) exact verify of
        only the candidates against the main table, bucket-pruned to
        the candidates' buckets, with a codegen'd positional
        ``exists`` over the token array (no UDF). The 100 TB of token
        arrays is touched only where a candidate lives.
        """
        seq = [int(t) for t in sequence]
        if not seq:
            raise ValueError("empty sequence")
        # stop tokens can't retrieve candidates but DO participate in
        # the exact verify: probe on the informative subset only
        stop = set(self.meta.get("stop_tokens") or [])
        probe = [t for t in seq if t not in stop]
        if not probe:
            raise ValueError(
                "every token in the sequence is a stop token — no "
                "indexed candidate set exists; probe with at least one "
                "informative token"
            )
        snap = table.refresh()
        key = snap.key_col
        # Candidate ids NEVER land on the driver (a pathological probe
        # of two medium-frequency tokens can return millions): only
        # their DISTINCT BUCKET ids are collected — bounded by
        # n_buckets regardless of candidate count — to prune the
        # verify scan's file list, and the ids themselves are applied
        # as a semi-join executor-side (AQE turns it into a broadcast
        # join when the candidate set is small, the common case).
        cand = self.containing_all(probe)
        bucket_rows = (
            cand.select(
                F.pmod(F.xxhash64("doc_id"), F.lit(snap.n_buckets))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        )
        if not bucket_rows:
            return self.spark.createDataFrame([], T.StructType([snap.schema[key]]))
        buckets = sorted(r["b"] for r in bucket_rows)
        docs = table.read(buckets=buckets).join(
            cand.withColumnRenamed("doc_id", key), on=key, how="leftsemi"
        )
        tok = F.col(self.meta["tokens_col"])
        length = len(seq)

        def _match_at(p):
            cond = None
            for i, t in enumerate(seq):
                c = F.element_at(tok, (p + i).cast("int")) == F.lit(t)
                cond = c if cond is None else (cond & c)
            return cond

        starts = F.when(
            F.size(tok) >= length,
            F.sequence(F.lit(1), F.size(tok) - length + 1),
        ).otherwise(F.array().cast("array<int>"))
        return docs.where(F.exists(starts, _match_at)).select(key)

    def compact(self) -> dict:
        """Fold all window appends into one reduced file per bucket.

        Single-maintainer operation (like ``sync``): the index has ONE
        driver — the feed consumer that syncs it — so fold and sync
        never run concurrently from different processes. The window
        list is captured ONCE up front and only those directories are
        folded and deleted, so even a misconfigured concurrent sync
        loses nothing (its new window simply isn't part of this fold).
        """
        victims = sorted(
            d for d in os.listdir(self.root) if d.startswith("win-")
        )
        paths = []
        for w in victims:
            wdir = os.path.join(self.root, w)
            paths += [
                os.path.join(wdir, b)
                for b in os.listdir(wdir)
                if b.startswith("bucket=")
            ]
        if not paths:
            return {"folded_windows": 0}
        raw = self.spark.read.schema(POSTING_SCHEMA).parquet(*paths)
        self._append(self._reduce(raw))
        import shutil

        for d in victims:
            shutil.rmtree(os.path.join(self.root, d))
        return {"folded_windows": len(victims)}
