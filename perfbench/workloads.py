"""The benchmark's workloads: ``cdc_ingest`` and ``lake_serve``.

Each workload runs as one closed-loop client on a warm JVM: set-up is
repeated ``SETUP_REPS`` times (its median is ``setup_s``), then the timed
loop issues one operation after another until ``seconds`` have passed.
With tracing on, the timed loop runs twice, untraced then traced; the
per-layer numbers come from the traced loop and the tracing overhead is
the difference between the two.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs, oracle
from perfbench.trace import Tracer, busy_s, read_stages, stages_in

SETUP_REPS = 3
MIN_REPLAYS = 3
CDC_BUCKETS = 16
SERVE_BUCKETS = 4
INDEX_BUCKETS = 4
WARMUP_LOOKUPS = 3
LOOKUPS_PER_COMMIT = 2
COMMITS_PER_PUMP = 5

# Per-layer metrics: name -> unit. A workload that does not exercise a
# layer reports 0 for it.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "cdc.stream.trigger_overhead_s": "s",
    "cdc.stream.batches": "count",
    "cdc.apply.self_s": "s",
    "lake.table.merge.wall_s": "s",
    "lake.table.merge.driver_s": "s",
    "lake.table.merge.resolve_map_task_s": "s",
    "lake.table.merge.resolve_reduce_task_s": "s",
    "lake.table.merge.write_task_s": "s",
    "lake.table.merge.resolve_shuffle_bytes": "bytes",
    "lake.table.merge.bucket_shuffle_bytes": "bytes",
    "lake.table.merge.spill_bytes": "bytes",
    "lake.table.merge.gc_s": "s",
    "lake.table.merge.files_written": "count",
    "lake.table.merge.bytes_written": "bytes",
    "lake.table.refresh_ms": "ms",
    "lake.table.lookup_p50_ms": "ms",
    "lake.table.lookup_p90_ms": "ms",
    "lake.table.lookup_files_ms": "ms",
    "lake.table.lookup.files_read": "count",
    "lake.bloom.kept_ratio": "ratio",
    "lake.table.lookup.task_s": "s",
    "lake.table.compact_s": "s",
    "lake.table.compact.bytes_rewritten": "bytes",
    "lake.table.delta_files_max": "count",
    "lake.feed.pump_p50_s": "s",
    "lake.feed.pump.base_input_bytes": "bytes",
    "lake.feed.pump.window_input_bytes": "bytes",
    "lake.feed.pump.task_s": "s",
    "lake.feed.pump.rows": "count",
    "lake.token_index.sync_p50_s": "s",
    "lake.token_index.sync.task_s": "s",
    "lake.token_index.sync.shuffle_bytes": "bytes",
    "lake.token_index.sync.postings_rows": "count",
    "peak_rss_mb": "MB",
    "trace.overhead_commit_p50_ms": "ms",
    "trace.overhead_ops_pct": "%",
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "commit_p50_ms": "ms",
    "ops_per_s": "1/s",
}


@dataclass
class Ops:
    """Operations attempted and failed; a wrong answer is a failure."""

    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def attempt(self, name: str, fn):
        self.attempted += 1
        try:
            return True, fn()
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self._fail(name, f"{type(e).__name__}: {e}")
            return False, None

    def verify(self, name: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self._fail(name, detail or "wrong result")

    def _fail(self, name: str, detail: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{name}: {detail}"[:300])


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    ops: Ops
    work: str
    cache: str
    seed: int
    seconds: float
    size: str
    trace: bool
    tamper_expected: bool = False


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _pct(xs, q: float) -> float:
    return float(np.percentile(xs, q)) if xs else 0.0


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


# ----------------------------------------------------------- cdc_ingest


def cdc_ingest(ctx: Ctx) -> dict:
    """``run_replay`` of a seeded change log into a fresh 16-bucket
    table, once per loop iteration; every replay's final state is checked
    against the DuckDB reduction of the log."""
    from ml_data_pipeline_spark.cdc.apply import create_docs_table
    from ml_data_pipeline_spark.cdc.stream import run_replay

    spark, tracer, ops = ctx.spark, ctx.tracer, ctx.ops
    phases = {}
    t0 = time.perf_counter()
    in_dir, manifest = inputs.cdc_inputs(spark, ctx.cache, ctx.seed, ctx.size)
    phases["inputs_s"] = time.perf_counter() - t0
    log_dir = os.path.join(in_dir, "log")
    t0 = time.perf_counter()
    expected = oracle.reduce_log(log_dir)
    expected_hash = oracle.state_hash(expected)
    if ctx.tamper_expected:
        expected_hash = "0" * 64
    log_events = _count_rows(log_dir)
    phases["oracle_s"] = time.perf_counter() - t0
    n = [0]

    def fresh():
        n[0] += 1
        root = os.path.join(ctx.work, f"cdc-{n[0]}")
        table = create_docs_table(spark, os.path.join(root, "tbl"), CDC_BUCKETS)
        return root, table

    from ml_data_pipeline_spark.lake.table import LakeTable

    warmup_dir = os.path.join(in_dir, "warmup")
    warmup_hash = oracle.state_hash(oracle.reduce_log(warmup_dir))

    def setup_once():
        # Warm-up: replay the log's first chunks into a fresh table.
        root, table = fresh()
        run_replay(spark, table.root, warmup_dir, os.path.join(root, "ckpt"))
        return table

    t0 = time.perf_counter()
    setup = []
    for _ in range(SETUP_REPS):
        wall, warm = _timed(setup_once)
        setup.append(wall)
    phases["setup_total_s"] = time.perf_counter() - t0
    # Checking the last warm-up table also warms the read path the final
    # checks use.
    ok, got = ops.attempt("warmup_replay", lambda: oracle.spark_state_hashes([warm.read()]))
    if ok:
        ops.verify("warmup_replay", got[0] == warmup_hash, "state hash differs")

    def loop():
        replays = []
        tries = 0
        t_start = time.perf_counter()
        # At least MIN_REPLAYS: the first replay of a run is still the
        # slowest, and the median of two would average it in.
        while tries < MIN_REPLAYS or time.perf_counter() - t_start < ctx.seconds:
            tries += 1
            root, table = fresh()
            a0 = len(tracer.walls["cdc.apply.apply_batch"])
            m0 = len(tracer.walls["lake.table.merge_batch"])

            def replay():
                with tracer.span("cdc.stream.run_replay"):
                    return run_replay(
                        spark, table.root, log_dir, os.path.join(root, "ckpt")
                    )

            wall, (ok, stats) = _timed(lambda: ops.attempt("run_replay", replay))
            if ok:
                replays.append(
                    {
                        "root": table.root,
                        "wall": wall,
                        "batches": stats["batches"],
                        "apply": tracer.walls["cdc.apply.apply_batch"][a0:],
                        "merge": tracer.walls["lake.table.merge_batch"][m0:],
                    }
                )
        loop_wall = time.perf_counter() - t_start
        return replays, loop_wall

    untraced, phases["loop_s"] = loop()
    e2e = _cdc_e2e(untraced, log_events, setup)
    traced = None
    if ctx.trace:
        tracer.enabled = True
        traced, _ = loop()
        tracer.enabled = False

    t0 = time.perf_counter()
    replays = untraced + (traced or [])
    ok, got = ops.attempt(
        "final_state",
        lambda: oracle.spark_state_hashes(
            [LakeTable.load(spark, r["root"]).read() for r in replays]
        ),
    )
    if ok:
        for h in got:
            ops.verify("run_replay", h == expected_hash, "final state hash differs")
    phases["check_s"] = time.perf_counter() - t0

    detail = {
        "inputs": {**manifest, "log_rows": log_events, "expected_docs": len(expected)},
        "named_metrics": {
            "ingest_events_per_s": e2e["events_per_s"],
            "ingest_batch_p50_s": e2e["commit_p50_ms"] / 1000.0,
        },
        "phases": phases,
        "samples": {
            "replays": len(untraced),
            "batches": sum(len(r["apply"]) for r in untraced),
            "setup_reps": setup,
            "replay_s": [r["wall"] for r in untraced],
            "apply_s": [r["apply"] for r in untraced],
        },
    }
    per_layer = {}
    if traced is not None:
        per_layer = _cdc_layers(ctx, traced)
        t_e2e = _cdc_e2e(traced, log_events, setup)
        per_layer.update(_overhead(e2e, t_e2e))
    return {"e2e": e2e, "per_layer": per_layer, "detail": detail}


def _count_rows(parquet_dir: str) -> int:
    import duckdb

    glob = os.path.join(parquet_dir, "**", "*.parquet")
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{glob}', hive_partitioning = false)"
        ).fetchone()[0]
    finally:
        con.close()


def _cdc_e2e(replays: list, log_events: int, setup: list) -> dict:
    # Medians over replays: the JVM is still warming across a run, and a
    # stall of the shared host lands in one replay rather than all.
    applies = [w for r in replays for w in r["apply"]]
    return {
        "setup_s": _median(setup),
        "events_per_s": _median([log_events / r["wall"] for r in replays]),
        "commit_p50_ms": _median(applies) * 1000.0,
        "ops_per_s": _median([r["batches"] / r["wall"] for r in replays]),
    }


def _cdc_layers(ctx: Ctx, replays: list) -> dict:
    spans = ctx.tracer.spans
    stages = read_stages(ctx.spark)
    out = {
        "cdc.stream.trigger_overhead_s": _median(
            [r["wall"] - sum(r["apply"]) for r in replays]
        ),
        "cdc.stream.batches": _median([r["batches"] for r in replays]),
        "cdc.apply.self_s": _median(
            [sum(r["apply"]) - sum(r["merge"]) for r in replays]
        ),
    }
    out.update(_merge_layers(spans, stages, parent="cdc.apply.apply_batch"))
    return out


# ----------------------------------------------------------- lake_serve


def lake_serve(ctx: Ctx) -> dict:
    """Cycles of small commits interleaved with point lookups, each cycle
    ending with a feed pump, an index sync and a compaction, against a
    compacted base table with a replica and a token index."""
    from pyspark.sql import functions as F

    from ml_data_pipeline_spark.cdc.apply import create_docs_table
    from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA
    from ml_data_pipeline_spark.lake.feed import ChangesFeed
    from ml_data_pipeline_spark.lake.token_index import TokenIndex

    spark, tracer, ops = ctx.spark, ctx.tracer, ctx.ops
    phases = {}
    t0 = time.perf_counter()
    in_dir, manifest = inputs.serve_inputs(spark, ctx.cache, ctx.seed, ctx.size)
    phases["inputs_s"] = time.perf_counter() - t0
    keys = inputs.lookup_keys(in_dir)
    base_dir = inputs.base_dir(in_dir)
    t0 = time.perf_counter()
    base_state = oracle.reduce_log(base_dir)
    batch_dirs = [inputs.batch_dir(in_dir, i) for i in range(manifest["batches"])]
    batch_updates = oracle.reduce_batches(batch_dirs)
    phases["oracle_s"] = time.perf_counter() - t0
    n = [0]

    def build_base():
        n[0] += 1
        root = os.path.join(ctx.work, f"serve-{n[0]}")
        src = create_docs_table(spark, os.path.join(root, "src"), SERVE_BUCKETS)
        src.merge_batch(
            spark.read.schema(CHANGE_SCHEMA).parquet(base_dir),
            batch_id=0,
            stream_id="serve",
        )
        src.compact()
        return root, src

    def fill_consumers(root, src):
        # An empty replica and an empty index take the base through the
        # same pump_into and sync calls the loop makes, which warms them.
        replica = create_docs_table(
            spark, os.path.join(root, "replica"), SERVE_BUCKETS
        )
        feed = ChangesFeed(src, os.path.join(root, "feed.json"))
        feed.pump_into(replica)
        index = TokenIndex.create(
            spark, os.path.join(root, "index"), n_buckets=INDEX_BUCKETS
        )
        index_feed = ChangesFeed(src, os.path.join(root, "index_feed.json"))
        index.sync(index_feed)
        return replica, feed, index, index_feed

    # Set-up: the compacted base table is built SETUP_REPS times (median),
    # then the replica and the token index are filled once from the last
    # build; setup_s is the sum of the two.
    t0 = time.perf_counter()
    base_builds = []
    for _ in range(SETUP_REPS):
        wall, (root, src) = _timed(build_base)
        base_builds.append(wall)
    consumers_s, (replica, feed, index, index_feed) = _timed(
        lambda: fill_consumers(root, src)
    )
    setup = [b + consumers_s for b in base_builds]
    phases["consumers_s"] = consumers_s
    phases["setup_total_s"] = time.perf_counter() - t0
    state = dict(base_state)
    cursor = {"batch": 0, "key": 0}

    def commit_and_reads(rec):
        i = cursor["batch"]
        cursor["batch"] += 1
        events = spark.read.schema(CHANGE_SCHEMA).parquet(batch_dirs[i])
        with tracer.span("lake_serve.commit"):
            wall, (ok, _res) = _timed(
                lambda: ops.attempt(
                    "merge_batch",
                    lambda: src.merge_batch(events, batch_id=i + 1, stream_id="serve"),
                )
            )
        rec["ops"] += 1
        if ok:
            rec["commit"].append(wall)
            rec["events"] += manifest["batch_events"]
        oracle.apply_updates(state, batch_updates[i])
        if tracer.enabled:
            per_bucket = defaultdict(int)
            for f in src.snapshot.files:
                if f.kind == "delta":
                    per_bucket[f.bucket] += 1
            rec["delta_max"] = max(rec["delta_max"], max(per_bucket.values(), default=0))
        for _ in range(LOOKUPS_PER_COMMIT):
            k = keys[cursor["key"] % len(keys)]
            cursor["key"] += 1

            def lookup():
                with tracer.span("lake_serve.lookup", key=k):
                    return src.lookup(k).collect()

            wall, (ok, rows) = _timed(lambda: ops.attempt("lookup", lookup))
            rec["ops"] += 1
            if ok:
                rec["lookup"].append(wall)
                ops.verify(
                    "lookup",
                    oracle.row_matches(rows, state.get(k)),
                    f"answer for {k} differs from the reduction",
                )

    def timed_op(rec, name, fn):
        wall, (ok, _res) = _timed(lambda: ops.attempt(name, fn))
        rec["ops"] += 1
        if ok:
            rec[name].append(wall)

    # Warm-up: a few untimed lookups from the end of the schedule keep the
    # first ones out of the timed loop.
    t0 = time.perf_counter()
    for k in keys[-WARMUP_LOOKUPS:]:
        ok, rows = ops.attempt("lookup", lambda: src.lookup(k).collect())
        if ok:
            ops.verify("lookup", oracle.row_matches(rows, state.get(k)))
    phases["warmup_s"] = time.perf_counter() - t0

    def loop(n_batches):
        # Whole cycles of one fixed mix: COMMITS_PER_PUMP commits, each
        # followed by its lookups, with a compaction of the source after
        # the middle one, then a feed pump and an index sync.
        rec = {
            "ops": 0,
            "events": 0,
            "delta_max": 0,
            "commit": [],
            "lookup": [],
            "pump": [],
            "sync": [],
            "compact": [],
        }
        end = cursor["batch"] + n_batches
        t_start = time.perf_counter()
        while cursor["batch"] + COMMITS_PER_PUMP <= end:
            for i in range(COMMITS_PER_PUMP):
                commit_and_reads(rec)
                if i == COMMITS_PER_PUMP // 2:
                    timed_op(rec, "compact", src.compact)
            timed_op(rec, "pump", lambda: feed.pump_into(replica))
            timed_op(rec, "sync", lambda: index.sync(index_feed))
            if time.perf_counter() - t_start >= ctx.seconds:
                break
        rec["wall"] = time.perf_counter() - t_start
        return rec

    left = len(batch_dirs) - cursor["batch"]
    # A traced run keeps half of the batches for its traced loop.
    untraced = loop(left // 2 if ctx.trace else left)
    phases["loop_s"] = untraced["wall"]
    e2e = _serve_e2e(untraced, setup)
    traced = None
    if ctx.trace:
        tracer.enabled = True
        traced = loop(len(batch_dirs) - cursor["batch"])
        tracer.enabled = False

    # Final state: every loop cycle ends with a pump and an index sync
    # after its last commit, so the source, the replica and the index must
    # all equal the reduction of everything committed. (The compaction
    # sits between commits: a pump whose window holds only a compaction
    # fails in ``merge_batch``'s Observation lookup on the empty change
    # set.)
    t0 = time.perf_counter()
    expected_hash = oracle.state_hash(state)
    if ctx.tamper_expected:
        expected_hash = "0" * 64
    ok, got = ops.attempt(
        "final_state",
        lambda: oracle.spark_state_hashes([src.read(), replica.read()]),
    )
    if ok:
        for name, h in zip(("source_state", "replica_state"), got):
            ops.verify(name, h == expected_hash, "state hash differs")
    token = _common_token(state)
    if token is not None:
        ok, rows = ops.attempt(
            "index_postings", lambda: index.postings(token).select(F.col("doc_id")).collect()
        )
        if ok:
            want = {d for d, (tok, _n, _s) in state.items() if token in tok}
            ops.verify("index_postings", {r["doc_id"] for r in rows} == want)
    phases["check_s"] = time.perf_counter() - t0

    detail = {
        "inputs": {**manifest, "base_docs_live": len(base_state)},
        "named_metrics": {
            "commit_p50_ms": e2e["commit_p50_ms"],
            "lookup_p50_ms": _median(untraced["lookup"]) * 1000.0,
            "lookup_p90_ms": _pct(untraced["lookup"], 90) * 1000.0,
            "feed_pump_p50_s": _median(untraced["pump"]),
            "index_sync_p50_s": _median(untraced["sync"]),
            "compact_s": _median(untraced["compact"]),
        },
        "phases": phases,
        "samples": {
            k: len(untraced[k]) for k in ("commit", "lookup", "pump", "sync", "compact")
        }
        | {"setup_reps": setup},
    }
    per_layer = {}
    if traced is not None:
        per_layer = _serve_layers(ctx, traced)
        per_layer.update(_overhead(e2e, _serve_e2e(traced, setup)))
    return {"e2e": e2e, "per_layer": per_layer, "detail": detail}


def _common_token(state) -> int | None:
    counts: dict[int, int] = defaultdict(int)
    for tok, _n, _s in state.values():
        for t in set(tok):
            counts[t] += 1
    return max(counts, key=lambda t: (counts[t], -t)) if counts else None


def _serve_e2e(rec: dict, setup: list) -> dict:
    return {
        "setup_s": _median(setup),
        "events_per_s": rec["events"] / sum(rec["commit"]) if rec["commit"] else 0.0,
        "commit_p50_ms": _median(rec["commit"]) * 1000.0,
        "ops_per_s": rec["ops"] / rec["wall"],
    }


def _serve_layers(ctx: Ctx, rec: dict) -> dict:
    spans = ctx.tracer.spans
    stages = read_stages(ctx.spark)
    by_name = defaultdict(list)
    for sp in spans:
        by_name[sp["name"]].append(sp)

    def task_s(sp):
        return sum(s["run_s"] for s in stages_in(sp, stages))

    lookups = by_name["lake_serve.lookup"]
    lfiles = by_name["lake.table.lookup_files"]
    pumps = by_name["lake.feed.pump_into"]
    syncs = by_name["lake.token_index.sync"]
    compacts = by_name["lake.table.compact"]
    kept = sum(s.get("files_kept", 0) for s in lfiles)
    in_bucket = sum(s.get("bucket_files", 0) for s in lfiles)
    out = {
        "lake.table.lookup_p50_ms": _median(rec["lookup"]) * 1000.0,
        "lake.table.lookup_p90_ms": _pct(rec["lookup"], 90) * 1000.0,
        "lake.table.lookup_files_ms": _median(
            [(s["end"] - s["start"]) * 1000.0 for s in lfiles]
        ),
        "lake.table.lookup.files_read": kept / len(lfiles) if lfiles else 0.0,
        "lake.bloom.kept_ratio": kept / in_bucket if in_bucket else 0.0,
        "lake.table.lookup.task_s": _median([task_s(s) for s in lookups]),
        "lake.table.compact_s": _median([s["end"] - s["start"] for s in compacts]),
        "lake.table.compact.bytes_rewritten": _median(
            [s.get("bytes_rewritten", 0) for s in compacts]
        ),
        "lake.table.delta_files_max": rec["delta_max"],
        "lake.feed.pump_p50_s": _median(rec["pump"]),
        "lake.feed.pump.base_input_bytes": _median(
            [s.get("base_input_bytes", 0) for s in pumps]
        ),
        "lake.feed.pump.window_input_bytes": _median(
            [s.get("window_input_bytes", 0) for s in pumps]
        ),
        "lake.feed.pump.task_s": _median([task_s(s) for s in pumps]),
        "lake.feed.pump.rows": _median([s.get("rows", 0) for s in pumps]),
        "lake.token_index.sync_p50_s": _median(rec["sync"]),
        "lake.token_index.sync.task_s": _median([task_s(s) for s in syncs]),
        "lake.token_index.sync.shuffle_bytes": _median(
            [
                sum(st["shuffle_write_bytes"] for st in stages_in(s, stages))
                for s in syncs
            ]
        ),
        "lake.token_index.sync.postings_rows": _median(
            [
                sum(
                    st["output_records"]
                    for st in stages_in(s, stages)
                    if st["shuffle_write_bytes"] == 0
                )
                for s in syncs
            ]
        ),
    }
    out.update(_merge_layers(spans, stages, parent="lake_serve.commit"))
    return out


# ------------------------------------------------------------- shared


def _merge_layers(spans: list, stages: list, parent: str) -> dict:
    """Per-merge medians over the merge_batch spans directly under
    ``parent`` spans (feed-driven merges inside a pump are excluded)."""
    parents = {sp["id"] for sp in spans if sp["name"] == parent}
    merges = [
        sp
        for sp in spans
        if sp["name"] == "lake.table.merge_batch" and sp["parent"] in parents
    ]
    rows = defaultdict(list)
    for sp in merges:
        st = stages_in(sp, stages)
        maps = [s for s in st if s["input_bytes"] > 0]
        rest = [s for s in st if s["input_bytes"] == 0]
        reduces = [
            s for s in rest if s["shuffle_read_bytes"] > 0 and s["shuffle_write_bytes"] > 0
        ]
        writes = [
            s for s in rest if s["shuffle_read_bytes"] > 0 and s["shuffle_write_bytes"] == 0
        ]
        wall = sp["end"] - sp["start"]
        rows["wall_s"].append(wall)
        rows["driver_s"].append(wall - busy_s(sp, st))
        rows["resolve_map_task_s"].append(sum(s["run_s"] for s in maps))
        rows["resolve_reduce_task_s"].append(sum(s["run_s"] for s in reduces))
        rows["write_task_s"].append(sum(s["run_s"] for s in writes))
        rows["resolve_shuffle_bytes"].append(sum(s["shuffle_write_bytes"] for s in maps))
        rows["bucket_shuffle_bytes"].append(
            sum(s["shuffle_write_bytes"] for s in reduces)
        )
        rows["spill_bytes"].append(sum(s["spill_bytes"] for s in st))
        rows["gc_s"].append(sum(s["gc_s"] for s in st))
        rows["files_written"].append(sp.get("files_written", 0))
        rows["bytes_written"].append(sp.get("bytes_written", 0))
    out = {f"lake.table.merge.{k}": _median(v) for k, v in rows.items()}
    refresh = [
        (sp["end"] - sp["start"]) * 1000.0
        for sp in spans
        if sp["name"] == "lake.table.refresh"
    ]
    out["lake.table.refresh_ms"] = _median(refresh)
    return out


def _overhead(untraced: dict, traced: dict) -> dict:
    base = untraced["ops_per_s"]
    return {
        "trace.overhead_commit_p50_ms": traced["commit_p50_ms"] - untraced["commit_p50_ms"],
        "trace.overhead_ops_pct": (base - traced["ops_per_s"]) / base * 100.0 if base else 0.0,
    }


WORKLOADS = {"cdc_ingest": cdc_ingest, "lake_serve": lake_serve}
