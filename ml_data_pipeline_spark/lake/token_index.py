"""TokenIndex — an incrementally-maintained inverted index
(token → doc postings) over the lake table's token arrays.

The secondary-index piece of a training-data pipeline: membership
("which documents contain token t?") and benchmark-contamination
checks ("which documents contain this whole token sequence?") must
not scan 100 TB of token arrays per probe. The index is a derived
view kept up to date from the table's ``ChangesFeed`` — the consumer
side of the CDC engine eating its own output.

Layout: the index is itself a ``LakeTable`` whose key is the pair
``(token, doc_id)``, bucketed on ``token``, with no payload columns
and no key blooms (nothing looks a posting up by key). A posting is
one of its rows: ``_seq`` is the document's change version and
``_deleted`` means the document no longer holds the token.

The index is a feed sink: ``sync`` is ``ChangesFeed.pump_all`` and
``rebuild`` is ``ChangesFeed.bootstrap``, both with the postings
projection, which emits for every changed document:

* ``U`` events for the NEW state's distinct tokens,
* ``D`` events for tokens REMOVED by the update (old minus new — from
  the ``_old_<tokens>`` column ``changes()`` carries) or for ALL old
  tokens on a delete,

each at the document's change version. The feed merges them as one
``merge_batch`` per window whose batch id is the window's target
snapshot. The table's max-``_seq`` reduce is the same LWW semilattice
as the main table's, and its watermark makes the sync exactly-once.
Snapshots, compaction and vacuum are the table's own, so a probe
keeps reading the files of the snapshot it was built on while the
index is compacted. The source's tokens column and the stop tokens
are kept in the table's ``properties``.

Scale shape: a probe for one token reads ONE bucket of the index
(1/n_buckets of it); compaction folds a bucket's deltas into one
reduced file.

Reference analog: the string-dictionary's keyed access
(/root/reference/ml-data/ml-data-core/src/string_cache.rs) — the
token→postings map is the same inverted shape, kept incrementally
fresh instead of rebuilt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ml_data_pipeline_spark.lake.bloom import bucket_of
from ml_data_pipeline_spark.lake.feed import ChangesFeed
from ml_data_pipeline_spark.lake.table import (
    DELETED_COL,
    SEQ_COL,
    LakeTable,
    Snapshot,
)

POSTING_SCHEMA = T.StructType(
    [
        T.StructField("token", T.IntegerType()),
        T.StructField("doc_id", T.StringType()),
    ]
)
TOKENS_PROP = "index.tokens_col"
STOP_PROP = "index.stop_tokens"
# The stream id of the index's merge watermark: merge_batch's default,
# which every index has recorded its windows under.
WATERMARK = "default"


class TokenIndex:
    """Inverted token→doc index, synced from a LakeTable's feed."""

    def __init__(self, table: LakeTable):
        self.table = table

    @property
    def root(self) -> str:
        return self.table.root

    # ------------------------------------------------------------ lifecycle

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
        return cls(
            LakeTable.create(
                spark,
                root,
                POSTING_SCHEMA,
                key_col=("token", "doc_id"),
                n_buckets=n_buckets,
                properties={
                    TOKENS_PROP: tokens_col,
                    STOP_PROP: sorted(set(map(int, stop_tokens or []))),
                },
            )
        )

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "TokenIndex":
        return cls(LakeTable.load(spark, root))

    # ---------------------------------------------------------------- sync

    def _postings(self, rows: DataFrame, snap: Snapshot) -> DataFrame:
        """The index's feed-sink projection: per changed document, a
        ``U`` event for each distinct non-stop token of its new state
        and a ``D`` for each one the change removed (old minus new; all
        old tokens on a delete), at the document's change version.

        One ``posexplode`` over the new tokens followed by the removed
        ones, whose position tells ``U`` from ``D``: a union of an adds
        and a deletes projection would plan the window's ``changes()``
        aggregate once per side.
        """
        props = self.table.snapshot.properties
        toks = props[TOKENS_PROP]
        stop = F.array(*map(F.lit, props[STOP_PROP])).cast("array<int>")

        def bag(c: Column) -> Column:
            # The distinct non-stop tokens. NULL is empty: a live row
            # whose tokens column is NULL (legal update) must retract all
            # its old postings, and array_except(old, NULL) is NULL.
            return F.array_except(F.coalesce(c, F.array().cast("array<int>")), stop)

        return (
            rows.select(
                "seq",
                F.col(snap.key_col).cast("string").alias("doc_id"),
                bag(F.when(~F.col(DELETED_COL), F.col(toks))).alias("_new"),
                bag(F.col(f"_old_{toks}")).alias("_old"),
            )
            .select(
                "seq",
                "doc_id",
                F.size("_new").alias("_n"),
                F.posexplode(F.concat("_new", F.array_except("_old", "_new"))),
            )
            .select(
                F.when(F.col("pos") < F.col("_n"), "U").otherwise("D").alias("op"),
                "seq",
                F.col("col").alias("token"),
                "doc_id",
            )
        )

    def sync(self, feed: ChangesFeed) -> dict:
        """Drain the feed into the index, one window at a time,
        exactly-once end-to-end (``ChangesFeed.pump_all``): each window
        is one merge whose batch id is its target snapshot, and the
        cursor commits after it. A crash in between re-polls the
        window; the index's watermark skips it, or, if the window has
        grown since, the re-merged postings carry the same versions and
        reduce to the same state.
        """
        windows = feed.pump_all(self.table, project=self._postings, stream_id=WATERMARK)
        return {"windows": windows, "cursor": feed.cursor}

    def rebuild(self, feed: ChangesFeed) -> dict:
        """Full re-sync for an index whose feed cursor predates vacuum
        retention (``changes()`` raises ValueError): the table's
        CURRENT live state is merged as postings and the cursor commits
        at its snapshot (``ChangesFeed.bootstrap``), after which
        ``sync`` resumes incrementally with no gap.

        Requires an index with NO files (recreate it): a full-state
        load carries no retraction rows for stale postings an old index
        may hold. A rebuild whose merge committed but whose cursor
        commit was lost is repaired instead: the cursor advances to the
        index's watermark and nothing is rewritten (``recovered``).
        """
        out = feed.bootstrap(self.table, project=self._postings, stream_id=WATERMARK)
        return {
            "rebuilt": out["bootstrapped"],
            "recovered": out["recovered"],
            "cursor": out["cursor"],
        }

    # ---------------------------------------------------------------- read

    def _live(self, tokens: list[int]) -> DataFrame:
        """Live postings ``(token, doc_id, ver)`` of ``tokens``, read
        from their buckets of the index only."""
        snap = self.table.snapshot
        bad = sorted(set(snap.properties[STOP_PROP]) & set(tokens))
        if bad:
            raise ValueError(
                f"tokens {bad} are stop tokens — not indexed (skew "
                f"bound); drop them from the probe"
            )
        key_type = snap.schema["token"].dataType
        buckets = {bucket_of(t, snap.n_buckets, key_type) for t in tokens}
        return (
            self.table.read(include_hidden=True, buckets=buckets)
            .where(F.col("token").isin(tokens))
            .select("token", "doc_id", F.col(SEQ_COL).alias("ver"))
        )

    def postings(self, token: int) -> DataFrame:
        """Documents currently containing ``token`` — reads ONE bucket."""
        return self._live([int(token)]).select("doc_id", "ver")

    def containing_all(self, tokens: list[int]) -> DataFrame:
        """Documents containing EVERY token in ``tokens`` (the
        contamination-check primitive): reads len(set(tokens)) buckets,
        intersects via a count-matching groupBy — no full-table scan.
        """
        toks = sorted({int(t) for t in tokens})
        return (
            self._live(toks)
            .groupBy("doc_id")
            .agg(F.count("token").alias("_n"))
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
        stop = set(self.table.snapshot.properties[STOP_PROP])
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
        # join when the candidate set is small, the common case). The
        # index holds ids as strings: they are cast back to the key's
        # type, which is what the table buckets by.
        cand = self.containing_all(probe).select(
            F.col("doc_id").cast(snap.schema[key].dataType).alias(key)
        )
        bucket_rows = (
            cand.select(table.bucket_expr(snap=snap).alias("b"))
            .distinct()
            .collect()
        )
        if not bucket_rows:
            return table.spark.createDataFrame([], T.StructType([snap.schema[key]]))
        buckets = sorted(r["b"] for r in bucket_rows)
        docs = table.read(buckets=buckets).join(cand, on=key, how="leftsemi")
        tok = F.col(self.table.snapshot.properties[TOKENS_PROP])
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
        """Fold the index's delta files into one reduced base file per
        bucket — the table's own ``compact``. It deletes no file, so a
        probe built before it still reads its snapshot's files; the
        table's ``vacuum`` reclaims the disk."""
        return self.table.compact()
