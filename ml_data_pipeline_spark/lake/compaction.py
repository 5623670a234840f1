"""Size-tiered, per-bucket compaction scheduling.

The only compaction trigger of a replay (``run_replay(
compaction_policy=)``, CLI ``replay --policy-compact``), and the policy
a real lakehouse maintenance loop runs
(reference analog: the pipeline's declared maintenance knobs,
/root/reference/ml-data/ml-data-core/src/schedule.rs:33-42): each
bucket is judged on its own delta tier, and only buckets whose deltas
are both numerous enough and large enough *relative to their base*
get folded. At 4096 buckets this is what keeps compaction work
O(dirty buckets) instead of O(table).

Why size-tiered: folding a 100-byte delta into a 1 GB base rewrites
1 GB to absorb 100 bytes — write amplification that kills a CDC sink
at scale. The trigger therefore requires the delta tier to be a
meaningful fraction of the base (``min_delta_base_ratio``) OR the
delta *count* to threaten read amplification (``max_delta_files`` —
every extra delta file is another merge input on every read).
"""

from __future__ import annotations

from dataclasses import dataclass

from ml_data_pipeline_spark.lake.table import Snapshot


@dataclass
class SizeTieredPolicy:
    """Pick buckets to compact from a snapshot's file listing.

    A bucket is selected when EITHER
      * it has ``max_delta_files`` or more delta files (read-amp bound:
        every delta is an extra merge input on every read), OR
      * its delta bytes are at least ``min_delta_base_ratio`` of its
        base bytes AND at least ``min_delta_bytes`` total (write-amp
        bound: don't rewrite a big base to absorb a sliver).
    A bucket with no base files yet is selected once it has
    ``max_delta_files`` deltas (there is no base to amplify).
    """

    max_delta_files: int = 8
    min_delta_base_ratio: float = 0.25
    min_delta_bytes: int = 1 << 20  # 1 MiB

    def select_buckets(self, snap: Snapshot) -> list[int]:
        delta_n: dict[int, int] = {}
        delta_b: dict[int, int] = {}
        base_b: dict[int, int] = {}
        for f in snap.files:
            if f.kind == "delta":
                delta_n[f.bucket] = delta_n.get(f.bucket, 0) + 1
                delta_b[f.bucket] = delta_b.get(f.bucket, 0) + f.bytes
            else:
                base_b[f.bucket] = base_b.get(f.bucket, 0) + f.bytes
        out = []
        for b, n in delta_n.items():
            if n >= self.max_delta_files:
                out.append(b)
                continue
            db = delta_b.get(b, 0)
            bb = base_b.get(b, 0)
            if (
                bb > 0
                and db >= self.min_delta_bytes
                and db >= bb * self.min_delta_base_ratio
            ):
                out.append(b)
        return sorted(out)
