"""Independent DuckDB oracle over the staged change-log files.

It never imports the engine: the expected table state is LWW by `seq` per
(repo, path) over the rows that pass the engine's validation rules (written
out again here in SQL), with delete winners dropped.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

# functions/validate.py validate_batch rules, restated: required keys
# non-null, op in the domain, seq a non-negative long, content non-null
# unless the op is a delete
VALID_SQL = (
    "repo IS NOT NULL AND path IS NOT NULL "
    "AND op IN ('insert', 'update', 'replace', 'delete') "
    "AND seq IS NOT NULL AND seq >= 0 "
    "AND (content IS NOT NULL OR op = 'delete')"
)


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _src(files: list[str]) -> str:
    lst = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return (f"read_parquet([{lst}], union_by_name = true, "
            "hive_partitioning = false)")


def final_state(con, files: list[str]) -> dict[tuple[str, str], str]:
    """{(repo, path): sha256(content)} of the live LWW winners."""
    rows = con.execute(f"""
        SELECT repo, path, sha256(content) FROM (
            SELECT repo, path, op, content,
                   row_number() OVER (PARTITION BY repo, path
                                      ORDER BY seq DESC) AS rn
            FROM {_src(files)} WHERE {VALID_SQL})
        WHERE rn = 1 AND op <> 'delete'
    """).fetchall()
    return {(r, p): h for r, p, h in rows}


def key_states(con, files: list[str]) -> tuple[list, list]:
    """(live keys, tombstoned keys) after LWW, each sorted."""
    rows = con.execute(f"""
        SELECT repo, path, op FROM (
            SELECT repo, path, op,
                   row_number() OVER (PARTITION BY repo, path
                                      ORDER BY seq DESC) AS rn
            FROM {_src(files)} WHERE {VALID_SQL})
        WHERE rn = 1 ORDER BY repo, path
    """).fetchall()
    live = [[r, p] for r, p, op in rows if op != "delete"]
    dead = [[r, p] for r, p, op in rows if op == "delete"]
    return live, dead


def file_stats(con, f: str) -> dict:
    n, valid = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE {VALID_SQL}) "
        f"FROM {_src([f])}").fetchone()
    return {"events": n, "valid": valid, "invalid": n - valid}


def touched_keys(con, files: list[str]) -> int:
    """Distinct (repo, path) among the valid events of `files`."""
    return con.execute(
        f"SELECT count(DISTINCT (repo, path)) FROM {_src(files)} "
        f"WHERE {VALID_SQL}").fetchone()[0]


def stars_state(con, files: list[str]) -> dict[tuple[str, str], int]:
    """{(repo, path): stars} for live winners that carry a non-null stars."""
    rows = con.execute(f"""
        SELECT repo, path, stars FROM (
            SELECT repo, path, op, stars,
                   row_number() OVER (PARTITION BY repo, path
                                      ORDER BY seq DESC) AS rn
            FROM {_src(files)} WHERE {VALID_SQL})
        WHERE rn = 1 AND op <> 'delete' AND stars IS NOT NULL
    """).fetchall()
    return {(r, p): int(s) for r, p, s in rows}


def queue_counts(con, queue_dir: str) -> tuple[int, int]:
    """(envelopes, distinct seq) over the committed batches of a JSON queue."""
    files = []
    for marker in sorted(glob.glob(os.path.join(queue_dir, "_commits", "*.json"))):
        with open(marker) as f:
            m = json.load(f)
        d = os.path.join(queue_dir, "data", f"{m['source_id']}__{m['batch_id']}")
        files += glob.glob(os.path.join(d, "*.parquet"))
    if not files:
        return 0, 0
    n, d = con.execute(
        f"SELECT count(*), count(DISTINCT seq) FROM {_src(files)}").fetchone()
    return n, d


def parquet_rows(con, directory: str) -> int:
    files = glob.glob(os.path.join(directory, "**", "*.parquet"), recursive=True)
    if not files:
        return 0
    return con.execute(f"SELECT count(*) FROM {_src(files)}").fetchone()[0]
