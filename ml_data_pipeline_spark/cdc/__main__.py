"""spark-submit entrypoint for the CDC engine.

Ship the package as a zip and run any subcommand on a cluster:

    python scripts/build_pyfiles.py                # → dist/mlp_spark.zip
    spark-submit --py-files dist/mlp_spark.zip \
        ml_data_pipeline_spark/cdc/__main__.py replay \
        --table /lake/docs --events /binlog/docs \
        --checkpoint /ckpt/docs

Subcommands:
    create-table  — initialize the lake table (input_hint schema)
    replay        — tail the change-log directory into the table
                    (availableNow replay; rerun to pick up new files)
    compact       — fold delta files into base files (optionally GC
                    tombstones below a replay watermark)
    vacuum        — delete unreachable files / expire old snapshots
    generate      — write a deterministic synthetic change stream
    show          — print snapshot + row count
    changes       — incremental changelog since a snapshot id
    lookup        — point lookup (driver-side bucket, bloom-pruned; small
                    inputs are read on the driver, with no Spark job)
    feed          — pump the changes feed into another table
                    (durable cursor, exactly-once)

On a cluster, drop the --cores flag and let spark-submit's --master/
--num-executors decide; build_session only forces local[] when no
master is configured.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Running as `spark-submit path/to/__main__.py` (or plain python) puts
# the script's own directory on sys.path, not the package root — make
# the package importable regardless of invocation style.
_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def _session(args):
    from pyspark.sql import SparkSession

    from ml_data_pipeline_spark.session import build_session

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_session(app_name=f"cdc-{args.cmd}", cores=args.cores)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ml_data_pipeline_spark.cdc")
    p.add_argument("--cores", type=int, default=None, help="local[] cores")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("create-table")
    c.add_argument("--table", required=True)
    c.add_argument("--buckets", type=int, default=64)
    c.add_argument("--patch-support", action="store_true",
                   help="accept op 'P' partial-column updates")

    r = sub.add_parser("replay")
    r.add_argument("--table", required=True)
    r.add_argument("--events", required=True)
    r.add_argument("--checkpoint", required=True)
    r.add_argument("--stream-id", default="cdc")
    r.add_argument("--max-files-per-trigger", type=int, default=64)
    r.add_argument("--max-bytes-per-trigger", type=int, default=None,
                   help="byte-denominated batch budget (replaces the "
                        "file-count cap when set)")
    r.add_argument("--policy-compact", action="store_true",
                   help="size-tiered per-bucket compaction policy")
    r.add_argument("--policy-max-delta-files", type=int, default=8)
    r.add_argument("--policy-ratio", type=float, default=0.25)
    r.add_argument("--vacuum-every-compactions", type=int, default=None)
    r.add_argument("--vacuum-keep", type=int, default=2)
    r.add_argument("--with-lang", action="store_true",
                   help="expect the evolved v2 schema (adds lang)")

    k = sub.add_parser("compact")
    k.add_argument("--table", required=True)
    k.add_argument("--gc-before-seq", type=int, default=None)

    v = sub.add_parser("vacuum")
    v.add_argument("--table", required=True)
    v.add_argument("--keep-snapshots", type=int, default=1)

    g = sub.add_parser("generate")
    g.add_argument("--out", required=True)
    g.add_argument("--docs", type=int, default=10000)
    g.add_argument("--events", type=int, default=100000)
    g.add_argument("--chunks", type=int, default=8)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--hot-key-fraction", type=float, default=0.0)
    g.add_argument("--dup-fraction", type=float, default=0.0)
    g.add_argument("--shuffle-window", type=int, default=0)
    g.add_argument("--seq-start", type=int, default=0,
                   help="LSN offset (continue an earlier stream's range)")

    s = sub.add_parser("show")
    s.add_argument("--table", required=True)
    s.add_argument("--as-of", type=int, default=None,
                   help="time-travel to a snapshot id")

    ch = sub.add_parser("changes",
                        help="incremental changelog since a snapshot")
    ch.add_argument("--table", required=True)
    ch.add_argument("--since", type=int, required=True)
    ch.add_argument("--out", default=None,
                    help="write the changelog as parquet here "
                         "(default: print counts only)")

    lk = sub.add_parser("lookup",
                        help="point lookup (driver-side bucket + "
                             "bloom-pruned file read; no Spark job when "
                             "the files fit one input split)")
    lk.add_argument("--table", required=True)
    lk.add_argument("--key", required=True)

    fd = sub.add_parser("feed",
                        help="pump the table's changes feed into a "
                             "destination table, exactly-once, "
                             "resuming from a durable cursor")
    fd.add_argument("--table", required=True)
    fd.add_argument("--dest", required=True)
    fd.add_argument("--cursor", required=True)
    fd.add_argument(
        "--bootstrap",
        action="store_true",
        help="full (re-)sync into an EMPTY dest (the recovery for a "
             "cursor expired by vacuum), then resume incrementally; "
             "also repairs a crashed pump's lost cursor commit",
    )

    ic = sub.add_parser("index-create",
                        help="create an inverted token index")
    ic.add_argument("--index", required=True)
    ic.add_argument("--buckets", type=int, default=16)
    ic.add_argument("--tokens-col", default="tokens")
    ic.add_argument("--stop-tokens", default=None,
                    help="comma-separated ultra-common tokens to "
                         "exclude from postings (skew bound)")

    isy = sub.add_parser("index-sync",
                         help="sync the token index from the table's "
                              "changes feed (durable cursor)")
    isy.add_argument("--table", required=True)
    isy.add_argument("--index", required=True)
    isy.add_argument("--cursor", required=True)
    isy.add_argument("--compact", action="store_true",
                     help="fold window appends after syncing")
    isy.add_argument(
        "--rebuild",
        action="store_true",
        help="full re-sync of a FRESH index from the table's live "
             "state (the recovery for a feed cursor expired by "
             "vacuum), then continue syncing incrementally; also "
             "repairs a crashed rebuild's lost cursor commit",
    )

    ip = sub.add_parser("index-probe",
                        help="docs containing a token (1-bucket read)")
    ip.add_argument("--index", required=True)
    ip.add_argument("--token", type=int, required=True)
    ip.add_argument("--limit", type=int, default=50,
                    help="max doc ids to print (count stays exact)")

    cont = sub.add_parser("index-contaminated",
                          help="docs containing a contiguous token "
                               "sequence (candidates from the index, "
                               "exact verify against the table)")
    cont.add_argument("--table", required=True)
    cont.add_argument("--index", required=True)
    cont.add_argument("--tokens", required=True,
                      help="comma-separated token sequence")

    args = p.parse_args(argv)
    spark = _session(args)

    from ml_data_pipeline_spark.cdc.apply import create_docs_table
    from ml_data_pipeline_spark.cdc.events import (
        CHANGE_SCHEMA,
        generate_change_stream,
    )
    from ml_data_pipeline_spark.cdc.stream import run_replay
    from ml_data_pipeline_spark.lake.table import LakeTable

    if args.cmd == "create-table":
        if args.patch_support:
            from ml_data_pipeline_spark.cdc.events import DOC_SCHEMA

            t = LakeTable.create(
                spark,
                args.table,
                DOC_SCHEMA,
                key_col="doc_id",
                n_buckets=args.buckets,
                properties={"patch.enabled": "true"},
            )
        else:
            t = create_docs_table(spark, args.table, n_buckets=args.buckets)
        print(
            json.dumps(
                {
                    "created": t.root,
                    "buckets": args.buckets,
                    "patch_support": bool(args.patch_support),
                }
            )
        )
    elif args.cmd == "replay":
        schema = CHANGE_SCHEMA
        if args.with_lang:
            from pyspark.sql import types as T

            schema = T.StructType(
                CHANGE_SCHEMA.fields + [T.StructField("lang", T.StringType())]
            )
        policy = None
        if args.policy_compact:
            from ml_data_pipeline_spark.lake.compaction import SizeTieredPolicy

            policy = SizeTieredPolicy(
                max_delta_files=args.policy_max_delta_files,
                min_delta_base_ratio=args.policy_ratio,
            )
        stats = run_replay(
            spark,
            args.table,
            args.events,
            args.checkpoint,
            stream_id=args.stream_id,
            schema=schema,
            max_files_per_trigger=args.max_files_per_trigger,
            max_bytes_per_trigger=args.max_bytes_per_trigger,
            compaction_policy=policy,
            vacuum_every_compactions=args.vacuum_every_compactions,
            vacuum_keep_snapshots=args.vacuum_keep,
        )
        print(json.dumps(stats))
    elif args.cmd == "compact":
        t = LakeTable.load(spark, args.table)
        print(json.dumps(t.compact(gc_before_seq=args.gc_before_seq)))
    elif args.cmd == "vacuum":
        t = LakeTable.load(spark, args.table)
        print(json.dumps(t.vacuum(keep_snapshots=args.keep_snapshots)))
    elif args.cmd == "generate":
        paths = generate_change_stream(
            spark,
            args.out,
            args.docs,
            args.events,
            n_chunks=args.chunks,
            seed=args.seed,
            hot_key_fraction=args.hot_key_fraction,
            dup_fraction=args.dup_fraction,
            shuffle_window=args.shuffle_window,
            seq_start=args.seq_start,
        )
        print(json.dumps({"chunks": paths}))
    elif args.cmd == "changes":
        t = LakeTable.load(spark, args.table)
        ch_df = t.changes(args.since)
        if args.out:
            old = [f"_old_{c}" for c in t.snapshot.payload_cols()]
            ch_df.drop(*old).write.mode("overwrite").parquet(args.out)
            # count the written window instead of computing it again
            ch_df = spark.read.parquet(args.out)
        from pyspark.sql import functions as F

        counts = {
            r["op"]: r["n"]
            for r in ch_df.groupBy("op").agg(F.count("*").alias("n")).collect()
        }
        print(
            json.dumps(
                {
                    "since": args.since,
                    "now": t.snapshot.snapshot_id,
                    "upserts": int(counts.get("U", 0)),
                    "deletes": int(counts.get("D", 0)),
                    "out": args.out,
                }
            )
        )
    elif args.cmd == "lookup":
        from pyspark.sql import types as T

        t = LakeTable.load(spark, args.table)
        # argparse delivers a string; the driver-side bucket/bloom hash
        # is type-sensitive (an integer key hashes its little-endian
        # bytes, 4 for byte/short/int and 8 for bigint, not its decimal
        # string) — convert through the table's key type, which
        # lookup_files also hashes by.
        key_type = t.snapshot.schema[t.key_col].dataType
        key = int(args.key) if isinstance(key_type, T.IntegralType) else args.key
        n_files = len(t.lookup_files(key))
        rows = [r.asDict() for r in t.lookup(key).collect()]
        print(
            json.dumps(
                {"key": args.key, "files_scanned": n_files, "rows": rows},
                default=str,
            )
        )
    elif args.cmd == "feed":
        from ml_data_pipeline_spark.lake.feed import ChangesFeed

        t = LakeTable.load(spark, args.table)
        dest = LakeTable.load(spark, args.dest)
        feed = ChangesFeed(t, args.cursor)
        boot = None
        if args.bootstrap:
            boot = feed.bootstrap(dest)
        windows = feed.pump_all(dest)
        out = {
            "windows": windows,
            "cursor": feed.cursor,
            "dest_rows": dest.read().count(),
        }
        if boot is not None:
            out["bootstrap"] = boot
        print(json.dumps(out))
    elif args.cmd == "index-create":
        from ml_data_pipeline_spark.lake.token_index import TokenIndex

        stop = (
            [int(x) for x in args.stop_tokens.split(",") if x.strip()]
            if args.stop_tokens
            else None
        )
        ix = TokenIndex.create(
            spark,
            args.index,
            tokens_col=args.tokens_col,
            n_buckets=args.buckets,
            stop_tokens=stop,
        )
        print(json.dumps({"created": ix.root, "buckets": args.buckets,
                          "stop_tokens": stop or []}))
    elif args.cmd == "index-sync":
        from ml_data_pipeline_spark.lake.feed import ChangesFeed
        from ml_data_pipeline_spark.lake.token_index import TokenIndex

        t = LakeTable.load(spark, args.table)
        ix = TokenIndex.load(spark, args.index)
        feed = ChangesFeed(t, args.cursor)
        out = {}
        if args.rebuild:
            out["rebuild"] = ix.rebuild(feed)
        out.update(ix.sync(feed))
        if args.compact:
            out.update(ix.compact())
        print(json.dumps(out))
    elif args.cmd == "index-probe":
        from ml_data_pipeline_spark.lake.token_index import TokenIndex

        ix = TokenIndex.load(spark, args.index)
        # a hot/stop-adjacent token can have millions of postings:
        # count exactly, but cap what crosses to the driver (sort +
        # limit execute distributed as a partial top-k)
        posts = ix.postings(args.token).persist()
        try:
            n_docs = posts.count()
            docs = [
                r["doc_id"]
                for r in posts.orderBy("doc_id").limit(args.limit).collect()
            ]
        finally:
            posts.unpersist(False)
        print(json.dumps({"token": args.token, "n_docs": n_docs,
                          "doc_ids": docs}))
    elif args.cmd == "index-contaminated":
        from ml_data_pipeline_spark.lake.token_index import TokenIndex

        t = LakeTable.load(spark, args.table)
        ix = TokenIndex.load(spark, args.index)
        seq = [int(x) for x in args.tokens.split(",") if x.strip()]
        # persist: the count and the display page must not re-run the
        # bucket-pruned candidate generation + exact-verify join twice
        hits = ix.contaminated_docs(t, seq).persist()
        try:
            n_docs = hits.count()
            docs = [
                r[t.key_col]
                for r in hits.orderBy(t.key_col).limit(50).collect()
            ]
        finally:
            hits.unpersist(False)
        print(json.dumps({"sequence": seq, "n_docs": n_docs,
                          "doc_ids": docs}))
    elif args.cmd == "show":
        t = LakeTable.load(spark, args.table)
        snap = (
            t.snapshot_by_id(args.as_of) if args.as_of is not None else t.snapshot
        )
        print(
            json.dumps(
                {
                    "snapshot_id": snap.snapshot_id,
                    "schema": [f.simpleString() for f in snap.schema.fields],
                    "files": len(snap.files),
                    "delta_files": sum(
                        1 for f_ in snap.files if f_.kind == "delta"
                    ),
                    "watermarks": snap.watermarks,
                    "rows": t.read(as_of_snapshot=args.as_of).count(),
                }
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
