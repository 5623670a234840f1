"""Spans around the engine's public entry points, and per-stage Spark
metrics attributed to them.

``Tracer.span`` always records the call's wall time (the untraced
end-to-end metrics need a few of them); only when ``enabled`` does it
also keep a span record (name, start, end, parent, run id and
attributes). ``install`` wraps the engine's entry points from outside the
package and returns a function that restores them.

Spark work is attributed to spans afterwards: every completed stage in
the JVM status store whose submission time falls inside a span's
[start, end] belongs to that span (and to its ancestors). The client is a
single closed loop, so spans at one nesting level never overlap.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.walls: dict[str, list[float]] = defaultdict(list)
        self._stack: list[dict] = []
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = None
        if self.enabled:
            self._next_id += 1
            sp = {
                "id": self._next_id,
                "name": name,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "run_id": self.run_id,
                **attrs,
            }
            self._stack.append(sp)
        t0 = time.time()
        if sp is not None:
            sp["start"] = t0
        try:
            yield sp
        finally:
            t1 = time.time()
            self.walls[name].append(t1 - t0)
            if sp is not None:
                sp["end"] = t1
                self._stack.pop()
                self.spans.append(sp)


def install(tracer: Tracer):
    """Wrap the engine's entry points; returns an ``uninstall`` callable."""
    import ml_data_pipeline_spark.cdc.stream as stream_mod
    from ml_data_pipeline_spark.lake.bloom import bucket_of
    from ml_data_pipeline_spark.lake.feed import ChangesFeed
    from ml_data_pipeline_spark.lake.table import LakeTable
    from ml_data_pipeline_spark.lake.token_index import TokenIndex

    restore = []

    def patch(owner, attr, wrapper):
        orig = getattr(owner, attr)
        restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def apply_batch(orig):
        def wrapped(table, batch_df, batch_id=None, **kw):
            with tracer.span("cdc.apply.apply_batch", batch_id=batch_id):
                return orig(table, batch_df, batch_id, **kw)

        return wrapped

    def merge_batch(orig):
        def wrapped(self, events, **kw):
            with tracer.span("lake.table.merge_batch") as sp:
                res = orig(self, events, **kw)
                if sp is not None:
                    files = res.get("new_files") or []
                    sp["files_written"] = len(files)
                    sp["bytes_written"] = sum(f.get("bytes", 0) for f in files)
                    sp["upsert_rows"] = res.get("upsert_rows") or 0
                return res

        return wrapped

    def plain(name):
        def wrap(orig):
            def wrapped(self, *a, **kw):
                with tracer.span(name):
                    return orig(self, *a, **kw)

            return wrapped

        return wrap

    def lookup_files(orig):
        def wrapped(self, key_value, snap=None):
            with tracer.span("lake.table.lookup_files") as sp:
                out = orig(self, key_value, snap=snap)
                if sp is not None:
                    s = snap or self.snapshot
                    b = bucket_of(key_value, s.n_buckets)
                    sp["files_kept"] = len(out)
                    sp["bucket_files"] = sum(1 for f in s.files if f.bucket == b)
                return out

        return wrapped

    def compact(orig):
        def wrapped(self, *a, **kw):
            with tracer.span("lake.table.compact") as sp:
                # The client is the table's only writer, so the handle's
                # snapshot is the head compaction starts from.
                before = {f.path for f in self.snapshot.files}
                res = orig(self, *a, **kw)
                if sp is not None:
                    after = self.snapshot_by_id(res["snapshot_id"]).files
                    sp["bytes_rewritten"] = sum(
                        f.bytes for f in after if f.path not in before
                    )
                return res

        return wrapped

    def pump_into(orig):
        def wrapped(self, dest, **kw):
            with tracer.span("lake.feed.pump_into") as sp:
                cursor = self.cursor
                res = orig(self, dest, **kw)
                if sp is not None and res.get("advanced"):
                    # What LakeTable.changes reads for this window: the
                    # files added since the cursor, and the cursor
                    # snapshot's files in the buckets those touch.
                    base = self.table.snapshot_by_id(cursor)
                    head = self.table.snapshot_by_id(res["cursor"])
                    base_paths = {f.path for f in base.files}
                    added = [f for f in head.files if f.path not in base_paths]
                    touched = {f.bucket for f in added}
                    sp["window_input_bytes"] = sum(f.bytes for f in added)
                    sp["base_input_bytes"] = sum(
                        f.bytes for f in base.files if f.bucket in touched
                    )
                    sp["rows"] = res.get("upsert_rows") or 0
                return res

        return wrapped

    patch(stream_mod, "apply_batch", apply_batch)
    patch(LakeTable, "merge_batch", merge_batch)
    patch(LakeTable, "refresh", plain("lake.table.refresh"))
    patch(LakeTable, "lookup_files", lookup_files)
    patch(LakeTable, "compact", compact)
    patch(ChangesFeed, "pump_into", pump_into)
    patch(TokenIndex, "sync", plain("lake.token_index.sync"))

    def uninstall():
        for owner, attr, orig in reversed(restore):
            setattr(owner, attr, orig)

    return uninstall


def read_stages(spark) -> list[dict]:
    """Every completed stage attempt in the JVM status store."""
    sc = spark.sparkContext
    jvm = spark._jvm
    seq = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), None
    )
    out = []
    for sd in jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq):
        sub, comp = sd.submissionTime(), sd.completionTime()
        if not (sub.isDefined() and comp.isDefined()):
            continue
        out.append(
            {
                "submit": sub.get().getTime() / 1000.0,
                "end": comp.get().getTime() / 1000.0,
                "run_s": sd.executorRunTime() / 1000.0,
                "gc_s": sd.jvmGcTime() / 1000.0,
                "input_bytes": sd.inputBytes(),
                "output_records": sd.outputRecords(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            }
        )
    return out


def stages_in(span: dict, stages: list[dict]) -> list[dict]:
    # Status-store times have millisecond resolution.
    lo, hi = span["start"] - 0.001, span["end"] + 0.001
    return [s for s in stages if lo <= s["submit"] <= hi]


def busy_s(span: dict, stages: list[dict]) -> float:
    """Wall time inside ``span`` covered by at least one of its stages."""
    iv = sorted(
        (max(s["submit"], span["start"]), min(s["end"], span["end"]))
        for s in stages
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (the JVM and its Python workers)."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(name))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
