"""Reference computations in DuckDB for the benchmark's output checks.

Each function reads the generated parquet inputs directly, so the
expected results never pass through Spark.
"""

from __future__ import annotations

import math
from datetime import timezone
from decimal import Decimal

import duckdb

from perfbench.loadgen import T0_US


def json_agg_totals(backlog: str) -> dict[str, float]:
    """Per-key price sum of valid orders whose order_id is
    ``orderNumber-<n>`` with n > 1000 (BasicStreams + Aggregations)."""
    rows = duckdb.sql(f"""
        WITH v AS (
          SELECT key, CASE WHEN json_valid(value) THEN value END AS j
          FROM read_parquet('{backlog}/*.parquet')
        ), t AS (
          SELECT key, json_extract_string(j, '$.order_id') AS oid,
                 CAST(json_extract(j, '$.price') AS DOUBLE) AS price
          FROM v WHERE j IS NOT NULL
        )
        SELECT key, sum(price) FROM t
        WHERE contains(oid, 'orderNumber-')
          AND TRY_CAST(substr(oid, strpos(oid, '-') + 1) AS BIGINT) > 1000
        GROUP BY key
    """).fetchall()
    return dict(rows)


def join_checksum(left: str, right: str, window_s: int) -> tuple[int, int, int, int]:
    """(rows, sum of left ids, sum of right ids, sum of output time in
    us past the event-time origin) of the +-window inner interval join."""
    row = duckdb.sql(f"""
        SELECT count(*), sum(l.order_id), sum(r.order_id),
               sum(epoch_us(greatest(l.ts, r.ts)) - {T0_US})
        FROM read_parquet('{left}/*.parquet') l
        JOIN read_parquet('{right}/*.parquet') r
          ON l.user_id = r.user_id
         AND l.ts >= r.ts - INTERVAL {window_s} SECOND
         AND l.ts <= r.ts + INTERVAL {window_s} SECOND
    """).fetchone()
    return tuple(int(x or 0) for x in row)


def running_totals(files: list[str]) -> dict[str, tuple[float, int]]:
    """Per-key (sum of price, count) over every generated file."""
    rows = duckdb.sql(
        f"SELECT key, sum(price), count(*) FROM read_parquet({files!r}) GROUP BY key"
    ).fetchall()
    return {k: (t, n) for k, t, n in rows}


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def oracle_rows(tables_dir: str, names: list[str], sql: str) -> tuple[list[str], list[tuple]]:
    con = duckdb.connect()
    try:
        for t in names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def same_rowset(cols_a: list[str], rows_a: list[tuple], cols_b: list[str], rows_b: list[tuple]) -> str | None:
    """None when both results hold the same rows (order-insensitive,
    columns matched by name, doubles to 9 significant digits); else a
    one-line reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"row count {len(rows_a)} != {len(rows_b)}"

    def norm(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)

    if norm(cols_a, rows_a) != norm(cols_b, rows_b):
        return "values differ"
    return None


def _norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v + 0.0:.9g}"
    if hasattr(v, "isoformat"):
        # compare instants: Spark returns naive UTC (TZ=UTC), DuckDB may attach a zone
        if getattr(v, "tzinfo", None) is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return v
