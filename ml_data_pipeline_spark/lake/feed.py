"""ChangesFeed — tail a LakeTable's changelog incrementally.

The Iceberg-CDC analog for this lake: a downstream consumer (another
table, a training-data pipeline, a feature store) follows the table's
committed snapshots through a durable cursor and receives, per poll,
the NET per-key changes (op 'U'|'D' rows carrying the key's new full
state) between its cursor and the current snapshot — computed by
``LakeTable.changes``, which reads only the files added in the window
plus the touched buckets of the base state, never the whole table.

Delivery contract:

* **At-least-once per poll, exactly-once end-to-end** — the cursor
  advances only on ``commit()``; a consumer that crashes between
  ``poll()`` and ``commit()`` re-receives the same window. When the
  sink is another LakeTable, ``pump_into`` passes the window's target
  snapshot id as the merge ``batch_id``, so the re-delivered window is
  skipped by the destination's own watermark — the same idempotence
  machinery the primary CDC path uses.
* **One sink protocol** — ``pump_into``/``pump_all``/``bootstrap``
  poll, merge and commit for every sink; sinks differ only in their
  projection of window rows to change events: ``replica_events`` (the
  default) or e.g. ``TokenIndex``'s postings.
* **One window computation per source handle** — feeds that share a
  source ``LakeTable`` handle and poll at the same cursor get one
  computation of their window (``LakeTable._changes_once``). A window
  whose input is within the driver bound is computed by ``changes()``
  on the driver as a local relation (a patch table's is collected once
  from its Spark plan), and held on the handle, keyed by its two
  snapshot ids, until the handle's other feeds at that cursor have
  taken it or the next window replaces it. A replica pump and an index
  sync at one cursor thus pay the window's reduce, old state included,
  once between them. A window over the bound stays a lazy Spark plan and
  is never held; a feed with no other feed of its handle at its cursor
  gets the ``changes()`` frame as it is and holds nothing.
* **Resumable** — the cursor is a JSON file written with the same
  fsync + atomic-rename protocol as table snapshots; a new
  ``ChangesFeed`` at the same cursor path resumes where the dead one
  stopped.
* **Compaction-safe** — snapshots created by ``compact()`` move no
  key's change version, so a poll spanning them emits no false
  changes. (``compact(gc_before_seq=...)`` must respect the feed's
  cursor — see ``LakeTable.compact``'s contract.)

Reference analog: the resumable-source contract (reset/seek,
/root/reference/ml-data/ml-data-core/src/source.rs:43) — here the
"source" is the lake table itself.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ml_data_pipeline_spark.lake.table import LakeTable, Snapshot

# A sink's projection: (window rows, source snapshot) -> the destination's
# change events. Rows are ``LakeTable.changes``' plus ``seq``, their version.
# The window holds one row per source key, and the projection must keep its
# events unique per DESTINATION key (the replica's one row per source key,
# the index's distinct (token, doc_id) pairs): the sink merges them without
# the in-batch reduce. A duplicate would cost rows written, not correctness:
# reads and compaction reduce each bucket again.
Projection = Callable[[DataFrame, Snapshot], DataFrame]


def replica_events(rows: DataFrame, snap: Snapshot) -> DataFrame:
    """The replica projection: each window row as a change event of the
    source's own key and payload columns."""
    return rows.select("op", "seq", *snap.key_cols, *snap.payload_cols())


class ChangesFeed:
    """Cursor-tracked incremental reader of a LakeTable's changes."""

    def __init__(self, table: LakeTable, cursor_path: str):
        self.table = table
        self.cursor_path = os.path.abspath(cursor_path)
        # a feed that shares its source handle may share its windows
        table._feeds.add(self)

    # ------------------------------------------------------------- cursor

    @property
    def cursor(self) -> int:
        """Last snapshot id whose changes were delivered AND committed
        (0 = nothing consumed yet: snapshot 0 is the empty table)."""
        if not os.path.exists(self.cursor_path):
            return 0
        with open(self.cursor_path) as f:
            return int(json.load(f)["snapshot_id"])

    def commit(self, snapshot_id: int) -> None:
        os.makedirs(os.path.dirname(self.cursor_path), exist_ok=True)
        tmp = f"{self.cursor_path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": int(snapshot_id)}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.cursor_path)

    # --------------------------------------------------------------- read

    def poll(self) -> tuple[DataFrame | None, int]:
        """(changes DataFrame, target snapshot id) for the window from
        the cursor to the table's current committed snapshot, or
        (None, cursor) when there is nothing new. Does NOT advance the
        cursor — call ``commit(target)`` after the window is applied.
        The rows are ``LakeTable.changes``' (new state plus the previous
        payload as ``_old_<col>``); a sink's projection selects the
        columns it needs.
        """
        cur = self.cursor
        head_snap = self.table.refresh()
        if head_snap.snapshot_id <= cur:
            return None, cur
        # One refresh defines BOTH the window and the reported target:
        # passing the head snapshot into changes() pins its upper
        # bound, so a commit racing this poll cannot widen the
        # delivered window past the cursor/batch-id we hand back.
        return (
            self.table._changes_once(cur, head_snap, self),
            head_snap.snapshot_id,
        )

    # --------------------------------------------------------------- sink

    def pump_into(
        self,
        dest: LakeTable,
        project: Projection = replica_events,
        *,
        stream_id: str = "changes-feed",
    ) -> dict:
        """Apply one polled window into another LakeTable, exactly-once.

        ``project`` turns the window's rows into the destination's
        change events (default ``replica_events``: a replica). The
        window's target snapshot id doubles as the merge batch id: a
        crash after merge but before cursor commit re-polls the same
        window, and the destination's watermark skips it — no
        double-apply, no gap. The events go through the ordinary CDC
        merge path, minus its in-batch reduce: a window holds one row per
        key, so there is nothing to reduce (see ``Projection``).
        """
        df, target = self.poll()
        if df is None:
            return {"advanced": False, "cursor": target}
        res = self._sink(dest, project, df, target, stream_id)
        return {
            "advanced": True,
            "cursor": target,
            "skipped": res.get("skipped", False),
            "upsert_rows": res.get("upsert_rows"),
        }

    def pump_all(
        self, dest: LakeTable, project: Projection = replica_events, **kw
    ) -> int:
        """Pump until the feed is drained; returns number of windows."""
        n = 0
        while (window := self.poll())[0] is not None:
            self._sink(dest, project, *window, **kw)
            n += 1
        return n

    def _sink(self, dest, project, rows, target, stream_id="changes-feed") -> dict:
        """Merge ``project``'s events of the window ``rows`` into
        ``dest`` as batch ``target``, then commit the cursor there. The
        events are key-unique (``Projection``), so the merge skips its
        in-batch reduce. The projection reads the window's own snapshot:
        a commit through the shared source handle since the poll may have
        moved ``self.table.snapshot`` (and added a column the window
        lacks)."""
        snap = self.table.snapshot
        if snap.snapshot_id != target:
            snap = self.table.snapshot_by_id(target)
        # seq = the row's change VERSION (max event seq that shaped its
        # state, incl. patch overlays), not the raw base _seq: a state
        # whose latest change was a per-column patch must outrank the
        # previously delivered full row in the destination's reduce.
        rows = rows.withColumn("seq", self.table._version_expr(snap))
        res = dest.merge_batch(
            project(rows, snap),
            batch_id=target,
            stream_id=stream_id,
            exclude_cols=(),
            _key_unique=True,
        )
        self.commit(target)
        return res

    # ---------------------------------------------------------- bootstrap

    def bootstrap(
        self,
        dest: LakeTable,
        project: Projection = replica_events,
        *,
        stream_id: str = "changes-feed",
    ) -> dict:
        """Full (re-)sync for a consumer that cannot read its window
        incrementally — the recovery `changes()` directs you to when
        the cursor predates vacuum retention.

        Delivers the source's CURRENT state, in window shape (every
        row ``op='U'`` with null ``_old_<col>``), through the same
        ``project`` into an EMPTY destination, with ``batch_id`` = the
        source snapshot id, then commits the cursor there — after which
        ``poll``/``pump_into`` resume incrementally with no gap.

        The destination must be EMPTY (recreate it to re-bootstrap):
        a full-state load cannot synthesize correct delete tombstones
        for stale keys an old replica holds — any tombstone seq we
        could pick either loses to the stale row or can tie a future
        source seq — so rather than an almost-right replica, this
        insists on an exact one.

        Crash repair: if the destination carries this stream's batch
        watermark AHEAD of the cursor (a bootstrap or pump applied its
        merge but died before the cursor commit), the data is already
        exactly-once durable — the cursor is simply advanced to the
        watermark and no data is rewritten.
        """
        snap = self.table.refresh()
        dsnap = dest.refresh()
        wm = dsnap.watermarks.get(stream_id)
        if wm is not None and self.cursor < wm:
            # merge committed, cursor commit lost — finish the commit.
            self.commit(wm)
            return {"bootstrapped": False, "recovered": True, "cursor": wm}
        if dsnap.files:
            raise ValueError(
                "bootstrap requires an EMPTY destination (recreate it): "
                "a full-state load cannot emit delete tombstones for "
                "stale keys a lagging sink may hold"
            )
        state = self.table.read(include_hidden=True, as_of_snapshot=snap.snapshot_id)
        state = state.select(
            F.lit("U").alias("op"),
            "*",
            *[
                F.lit(None).cast(snap.schema[c].dataType).alias(f"_old_{c}")
                for c in snap.payload_cols()
            ],
        )
        res = self._sink(dest, project, state, snap.snapshot_id, stream_id)
        return {
            "bootstrapped": True,
            "recovered": False,
            "cursor": snap.snapshot_id,
            "rows": res.get("upsert_rows"),
        }
