"""DuckDB references for the benchmark's correctness gate.

Each check states the CDC contract independently of the engine: the latest
event per key in offset order ``(ts, event_id)``, kept when that event is
not a delete (``error`` events are deletes, ``signup`` inserts, anything
else updates).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

_OP = (
    "CASE WHEN event_type = 'signup' THEN 'insert' "
    "WHEN event_type = 'error' THEN 'delete' ELSE 'update' END"
)


def _src(path: str) -> str:
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def latest_state_sql(log: str, hw: int | None = None) -> str:
    """Live rows of a latest-per-key replay of ``log`` up to offset ``hw``."""
    cut = f"WHERE event_id <= {int(hw)}" if hw is not None else ""
    return f"""
      SELECT user_id, {_OP} AS op, value, props, event_id,
             CAST(ts AS TIMESTAMP) AS ts
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM '{_src(log)}' {cut})
      WHERE rn = 1 AND {_OP} <> 'delete'
    """


def _diff(con, got: str, want: str, cols: str) -> str | None:
    """None when the two row multisets are equal, else a short reason."""
    n_got, n_want = (
        con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0] for q in (got, want)
    )
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM ({got}) EXCEPT ALL "
        f"SELECT {cols} FROM ({want}))"
    ).fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM ({want}) EXCEPT ALL "
        f"SELECT {cols} FROM ({got}))"
    ).fetchone()[0]
    if extra or missing or n_got != n_want:
        return f"rows {n_got} vs reference {n_want}: {extra} unexpected, {missing} missing"
    return None


def check_snapshot_sink(sink_dir: str, log: str, hw: int) -> str | None:
    """The snapshot sink equals the latest-per-key replay at ``hw``: every
    live key once, as an insert image carrying its latest event."""
    con = duckdb.connect()
    try:
        got = (
            f"SELECT user_id, op, value, props, event_id, CAST(ts AS TIMESTAMP) AS ts "
            f"FROM '{os.path.join(sink_dir, '*.parquet')}'"
        )
        want = (
            f"SELECT user_id, 'insert' AS op, value, props, event_id, ts "
            f"FROM ({latest_state_sql(log, hw)})"
        )
        return _diff(con, got, want, "user_id, op, value, props, event_id, ts")
    finally:
        con.close()


def check_latest_state(state: pd.DataFrame, log: str) -> str | None:
    """``read_latest_state`` output equals the normalize of the drained log."""
    con = duckdb.connect()
    try:
        con.register("got_state", state)
        return _diff(
            con,
            "SELECT * FROM got_state",
            latest_state_sql(log),
            "user_id, op, value, props, event_id",
        )
    finally:
        con.close()


def registry_oracles(sf_dir: str, specs: dict) -> dict[str, pd.DataFrame]:
    """Each registry key's DuckDB oracle result over the sf-dir tables."""
    con = duckdb.connect()
    try:
        for name in sorted(os.listdir(sf_dir)):
            table = name.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(sf_dir, name)}'"
            )
        return {key: con.execute(spec.oracle).fetchdf() for key, spec in specs.items()}
    finally:
        con.close()
