"""Independent expected states and order-free state hashes.

The oracle never shares code with the engine: the expected table state is
a DuckDB max-``seq`` reduction of the *written* change-log files (a key's
highest-seq event wins; a winning delete removes the key), and states are
compared through a hash of their canonically sorted rows.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

State = dict  # doc_id -> (tokens tuple, n_tok, source)


def reduce_log(parquet_dir: str) -> State:
    """Max-seq reduction of every parquet file under ``parquet_dir``."""
    glob = os.path.join(parquet_dir, "**", "*.parquet")
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            SELECT doc_id, op, tokens, n_tok, source
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY seq DESC) AS rn
                FROM read_parquet('{glob}', hive_partitioning = false)
            )
            WHERE rn = 1
            """
        ).fetchall()
    finally:
        con.close()
    return {
        d: (tuple(tok or ()), n, src) for d, op, tok, n, src in rows if op != "D"
    }


def reduce_batches(batch_dirs: list[str]) -> list[list]:
    """Each batch's net effect: ``(doc_id, entry)`` pairs, ``entry`` being
    ``None`` for a winning delete. Folding them into a state is valid when
    every seq in a batch is above every seq already folded (the
    ``lake_serve`` stream continues the base log's LSNs)."""
    # One query over every batch; a row's batch is the directory it was
    # read from.
    index = {os.path.normpath(d): i for i, d in enumerate(batch_dirs)}
    globs = [os.path.join(d, "*.parquet") for d in batch_dirs]
    con = duckdb.connect()
    try:
        rows = con.execute(
            """
            SELECT dir, doc_id, op, tokens, n_tok, source
            FROM (
                SELECT *, parse_dirpath(filename) AS dir, row_number() OVER (
                    PARTITION BY parse_dirpath(filename), doc_id
                    ORDER BY seq DESC) AS rn
                FROM read_parquet(?, filename = true, hive_partitioning = false)
            )
            WHERE rn = 1
            """,
            [globs],
        ).fetchall()
    finally:
        con.close()
    out: list[list] = [[] for _ in batch_dirs]
    for dir_, d, op, tok, n, src in rows:
        entry = None if op == "D" else (tuple(tok or ()), n, src)
        out[index[os.path.normpath(dir_)]].append((d, entry))
    return out


def apply_updates(state: State, updates: list) -> None:
    for d, entry in updates:
        if entry is None:
            state.pop(d, None)
        else:
            state[d] = entry


def _row_md5(d, tok, n, src) -> str:
    # Same line as the Spark expression in ``spark_state_hash``.
    line = "\t".join(
        str(x) for x in (d, ",".join(map(str, tok)), n, src) if x is not None
    )
    return hashlib.md5(line.encode()).hexdigest()


def _digest(row_md5s) -> str:
    h = hashlib.sha256()
    for m in sorted(row_md5s):
        h.update(m.encode())
    return h.hexdigest()


def state_hash(state: State) -> str:
    """Order-free hash of a state: sha256 over its sorted row md5s."""
    return _digest(_row_md5(d, *v) for d, v in state.items())


def spark_state_hashes(dfs: list) -> list[str]:
    """``state_hash`` of each (doc_id, tokens, n_tok, source) DataFrame,
    computed in one Spark job; the per-row md5 runs in Spark so only
    32-character digests are collected."""
    from functools import reduce

    from pyspark.sql import functions as F

    line = F.concat_ws(
        "\t",
        F.col("doc_id"),
        F.array_join(F.col("tokens"), ","),
        F.col("n_tok").cast("string"),
        F.col("source"),
    )
    tagged = [df.select(F.lit(i).alias("_t"), F.md5(line).alias("_m")) for i, df in enumerate(dfs)]
    rows = reduce(lambda a, b: a.unionByName(b), tagged).collect()
    by_df: list[list[str]] = [[] for _ in dfs]
    for t, m in rows:
        by_df[t].append(m)
    return [_digest(ms) for ms in by_df]


def row_matches(rows: list, expected) -> bool:
    """Does a collected ``lookup(key)`` answer equal the expected entry
    (``None`` for an absent key)?"""
    if expected is None:
        return not rows
    if len(rows) != 1:
        return False
    r = rows[0]
    return (tuple(r["tokens"] or ()), r["n_tok"], r["source"]) == expected
