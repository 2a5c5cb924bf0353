"""Output checks, run after the timed window against DuckDB on the same
generated inputs.  Each function returns a list of problems (empty when
the op's outputs are correct)."""

from __future__ import annotations

import os

import duckdb

# Gap sessionization with the engine's contract: strict ``> 1800 s`` at
# microsecond precision, ties on ``ts`` broken by ``event_id``.
_SESSIONS_SQL = """
SELECT count(*) FILTER (WHERE prev_ts IS NULL
                        OR date_diff('microsecond', prev_ts, ts) > 1800 * 1000000)
FROM (SELECT ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM day WHERE user_id IS NOT NULL)
"""

_USER_LEVEL_SQL = """
SELECT user_id, count(*) AS n_events,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS total_purchases,
       sum(CASE WHEN event_type = 'purchase' THEN value::DECIMAL(18, 2) END) AS total_spent
FROM day WHERE user_id IS NOT NULL GROUP BY user_id
"""


def _parquet(path: str) -> str:
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def check_daily_day(events_file: str, out_dir: str, ds: str, report: dict) -> list[str]:
    """Compare one ``run_daily_pipeline`` day with DuckDB: the hygiene
    counts it reported, ``user_level`` and the ``session_level`` row
    count it wrote."""
    problems = []
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(
            f"CREATE TEMP VIEW day AS SELECT * FROM read_parquet('{events_file}') "
            f"WHERE CAST(ts AS DATE) = DATE '{ds}'"
        )
        rows, bad = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE user_id IS NULL OR ts IS NULL) FROM day"
        ).fetchone()
        got = report.get("hygiene", {})
        if (got.get("rows"), got.get("quarantined")) != (rows, bad):
            problems.append(f"{ds} hygiene {got} != rows={rows} quarantined={bad}")

        served = _parquet(os.path.join(out_dir, "user_level", f"ds={ds}"))
        got_users = (
            f"SELECT user_id, n_events, total_purchases, "
            f"total_spent::DECIMAL(18, 2) AS total_spent FROM {served}"
        )
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM ({_USER_LEVEL_SQL} EXCEPT ALL {got_users})),"
            f"       (SELECT count(*) FROM ({got_users} EXCEPT ALL {_USER_LEVEL_SQL}))"
        ).fetchone()
        if diff != (0, 0):
            problems.append(f"{ds} user_level differs: {diff[0]} missing, {diff[1]} extra rows")

        sessions = con.execute(_SESSIONS_SQL).fetchone()[0]
        served = _parquet(os.path.join(out_dir, "session_level", f"ds={ds}"))
        got_sessions = con.execute(f"SELECT count(*) FROM {served}").fetchone()[0]
        if got_sessions != sessions:
            problems.append(f"{ds} session_level rows {got_sessions} != {sessions}")
    finally:
        con.close()
    return problems


def check_ingest_op(new_files: list[str], expected: dict) -> list[str]:
    """The lake files one ingest op added must hold exactly the messages
    it released: row count, ``sum(event_id)`` and per-``date`` counts."""
    if not new_files:
        return ["op added no lake files"]
    con = duckdb.connect()
    try:
        files = f"read_parquet({new_files!r}, hive_partitioning = true)"
        rows, id_sum = con.execute(f"SELECT count(*), sum(event_id) FROM {files}").fetchone()
        per_date = dict(
            con.execute(f"SELECT CAST(date AS VARCHAR), count(*) FROM {files} GROUP BY 1").fetchall()
        )
    finally:
        con.close()
    problems = []
    if (rows, int(id_sum or 0)) != (expected["rows"], expected["sum_event_id"]):
        problems.append(
            f"lake rows/sum(event_id) {rows}/{id_sum} != "
            f"{expected['rows']}/{expected['sum_event_id']}"
        )
    if per_date != expected["per_date"]:
        problems.append(f"lake per-date counts {per_date} != {expected['per_date']}")
    return problems
