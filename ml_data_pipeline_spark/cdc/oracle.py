"""Single-threaded Python oracle for CDC replay correctness.

Computes the expected final table state from the *written* change-log
Parquet (never re-deriving the generator's math — an independent
implementation per SURVEY.md §5.2): group events by doc_id, the
max-``seq`` event wins, deletes remove the row. Comparison asserts
**exact token-array equality per doc_id** (BASELINE.json input_hint).
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def load_events_pandas(events_dir: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(events_dir, "**", "*.parquet"), recursive=True))
    tables = [pq.read_table(f) for f in files]
    import pyarrow as pa

    return pa.concat_tables(tables, promote_options="permissive").to_pandas()


def expected_state(events: pd.DataFrame, key: str = "doc_id") -> pd.DataFrame:
    """Reduce the event log: per key, max-seq wins; 'D' deletes."""
    # Stable sort by seq, keep the last row per key (max-seq wins).
    # Redelivered events share a seq AND identical payload, so ties are
    # harmless. This is pandas, not Spark — an independent reducer.
    red = events.sort_values("seq", kind="mergesort").drop_duplicates(
        subset=[key], keep="last"
    )
    red = red[red["op"] != "D"]
    keep = [c for c in red.columns if c not in ("seq", "op", "ts")]
    if red.empty:
        return pd.DataFrame(columns=[key, "tokens", "n_tok", "source"])
    return red[keep].reset_index(drop=True)


def _missing(v) -> bool:
    if v is None:
        return True
    if isinstance(v, float) and np.isnan(v):
        return True
    return False


def expected_state_with_patches(
    events: pd.DataFrame, key: str = "doc_id"
) -> pd.DataFrame:
    """Ordered-replay reducer WITH partial-column patches (op 'P').

    Events applied strictly in seq order: I/U replace the row, D
    deletes it, P overwrites only its non-null payload columns and is
    dropped if no live row exists. Independent of the engine's
    lattice-based implementation — a straight per-event loop.
    """
    payload = [
        c
        for c in events.columns
        if c not in (key, "seq", "op", "ts", "chunk", "table")
    ]
    state: dict = {}
    ordered = events.sort_values("seq", kind="mergesort")
    for r in ordered.itertuples(index=False):
        d = dict(zip(ordered.columns, r))
        k = d[key]
        op = d["op"]
        if op == "D":
            state.pop(k, None)
        elif op in ("I", "U"):
            state[k] = {c: d[c] for c in payload}
        elif op == "P":
            if k in state:
                for c in payload:
                    if not _missing(d[c]):
                        state[k][c] = d[c]
    if not state:
        return pd.DataFrame(columns=[key, *payload])
    rows = [{key: k, **v} for k, v in state.items()]
    return pd.DataFrame(rows)[[key, *payload]]


def _norm_tokens(v) -> list[int]:
    if v is None:
        return []
    if isinstance(v, np.ndarray):
        return [int(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [int(x) for x in v]
    if isinstance(v, float) and np.isnan(v):
        return []
    return [int(x) for x in list(v)]


def assert_state_equal(
    actual: pd.DataFrame,
    expected: pd.DataFrame,
    key: str = "doc_id",
    extra_cols: tuple[str, ...] = ("n_tok", "source"),
) -> None:
    """Exact per-key token-array equality + scalar column equality.

    Raises ``AssertionError`` on the first difference. The checks are
    explicit raises, not ``assert`` statements, so they still run under
    ``python -O``."""
    a = actual.set_index(key).sort_index()
    e = expected.set_index(key).sort_index()
    missing = set(e.index) - set(a.index)
    extra = set(a.index) - set(e.index)
    if missing:
        raise AssertionError(
            f"missing {len(missing)} keys, e.g. {sorted(missing)[:5]}"
        )
    if extra:
        raise AssertionError(f"extra {len(extra)} keys, e.g. {sorted(extra)[:5]}")
    for k in e.index:
        ta = _norm_tokens(a.loc[k, "tokens"])
        te = _norm_tokens(e.loc[k, "tokens"])
        if ta != te:
            raise AssertionError(f"tokens mismatch for {k}: {ta[:8]}… vs {te[:8]}…")
        for c in extra_cols:
            if c in e.columns and c in a.columns:
                va, ve = a.loc[k, c], e.loc[k, c]
                both_nan = (
                    va is None or (isinstance(va, float) and np.isnan(va))
                ) and (ve is None or (isinstance(ve, float) and np.isnan(ve)))
                if not (both_nan or va == ve):
                    raise AssertionError(f"{c} mismatch for {k}: {va} vs {ve}")
