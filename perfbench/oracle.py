"""Correctness checks, run outside every timed region.

- The eight notebook queries are answered a second time by DuckDB over
  the same Parquet files; ``approx_distinct_players`` only has to land
  within its documented error (rsd 0.05) of DuckDB's exact count.
- A games table is summarised as (row count, order-insensitive hash of
  every row), so two ingests of the same games compare in one number.
"""

from __future__ import annotations

import datetime
import os

import duckdb

# Spark's approx_count_distinct default relative standard deviation;
# accept three of them
APPROX_RSD = 0.05
APPROX_TOLERANCE = 3 * APPROX_RSD
FLOAT_DIGITS = 9

EDA_QUERIES = (
    "total_games",
    "approx_distinct_players",
    "result_proportions",
    "termination_proportions",
    "top_players",
    "games_per_day",
    "high_elo_openings",
    "top_openings",
)

_W = "FROM games WHERE Role_player = 'White'"
DUCKDB_SQL = {
    "total_games": f"SELECT count(*) {_W}",
    "approx_distinct_players": f"SELECT count(DISTINCT Player), count(DISTINCT Opponent) {_W}",
    "result_proportions": f"""
        WITH w AS (SELECT CASE Result WHEN '0-1' THEN 'black' WHEN '1-0' THEN 'white'
                          WHEN '1/2-1/2' THEN 'draw' END AS winner {_W}),
             g AS (SELECT winner, count(*) AS c FROM w WHERE winner IS NOT NULL GROUP BY winner)
        SELECT winner, c, c / sum(c) OVER () FROM g""",
    "termination_proportions": f"""
        WITH g AS (SELECT Termination, count(*) AS c {_W} GROUP BY Termination)
        SELECT Termination, c, c / sum(c) OVER () FROM g""",
    "top_players": """
        WITH w AS (SELECT Player AS player, count(*) AS cw FROM games
                   WHERE Role_player = 'White' GROUP BY Player),
             b AS (SELECT Player AS player, count(*) AS cb FROM games
                   WHERE Role_player = 'Black' GROUP BY Player)
        SELECT player, cw, cb, cw + cb AS n FROM w JOIN b USING (player)
        ORDER BY n DESC, player ASC LIMIT 20""",
    "games_per_day": f"SELECT CAST(DateTime AS DATE) AS day, count(*) {_W} GROUP BY day",
    "high_elo_openings": f"""
        SELECT Opening, count(*) {_W} AND PlayerElo > 2000 AND OpponentElo > 2000
        GROUP BY Opening""",
    "top_openings": f"""
        SELECT Opening, count(*) AS c {_W} GROUP BY Opening
        ORDER BY c DESC, Opening ASC LIMIT 20""",
}


def parquet_glob(table_dir: str) -> str:
    """Data files of a year=/month= partitioned table (leaves out the
    streaming ingest's ``_feature_state`` side table)."""
    return os.path.join(table_dir, "year=*", "month=*", "*.parquet")


def _connect(table_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    glob = parquet_glob(table_dir).replace("'", "''")
    con.execute(
        f"CREATE VIEW games AS SELECT * FROM read_parquet('{glob}', hive_partitioning = true)"
    )
    return con


def _norm(v):
    if isinstance(v, float):
        return round(v, FLOAT_DIGITS)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()[:10]
    return v


def normalise(rows) -> list[tuple]:
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def expected_answers(table_dir: str) -> dict[str, list[tuple]]:
    con = _connect(table_dir)
    try:
        return {q: normalise(con.execute(sql).fetchall()) for q, sql in DUCKDB_SQL.items()}
    finally:
        con.close()


def answer_ok(query: str, got_rows, want: list[tuple]) -> bool:
    got = normalise(got_rows)
    if query != "approx_distinct_players":
        return got == want
    (approx_w, approx_b), (exact_w, exact_b) = got[0], want[0]
    return (abs(approx_w - exact_w) <= APPROX_TOLERANCE * exact_w
            and abs(approx_b - exact_b) <= APPROX_TOLERANCE * exact_b)


def table_digest(table_dir: str) -> tuple[int, int]:
    """(rows, sum of per-row hashes): equal for equal multisets of rows.
    Columns are hashed in name order, so two writers that order the same
    columns differently still agree."""
    con = _connect(table_dir)
    try:
        cols = sorted(r[0] for r in con.execute("DESCRIBE games").fetchall())
        row_hash = "hash(" + ", ".join(f'"{c}"' for c in cols) + ")"
        n, h = con.execute(f"SELECT count(*), sum({row_hash}::HUGEINT) FROM games").fetchone()
        return int(n), int(h or 0)
    finally:
        con.close()


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) under ``path`` for files ending in ``suffix``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files
