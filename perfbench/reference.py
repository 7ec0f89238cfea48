"""Independent references, computed with DuckDB outside the timed window.

Dashboard panels are re-derived in SQL from the same parquet the program
wrote; delta rows (batch and streaming) are compared with the generator's
exact expected rows by an order-insensitive per-tick hash; registered datapipe and
stream queries use the registry's own DuckDB oracles.
"""

from __future__ import annotations

import hashlib
import math
from datetime import datetime, timezone

import duckdb
import numpy as np
import pyarrow as pa

MYSQL_TO_QAN = {
    "count_star": "calls_delta",
    "sum_timer_wait": "total_timer_wait_delta",
    "sum_lock_time": "lock_time_delta",
    "sum_errors": "errors_delta",
    "sum_warnings": "warnings_delta",
    "sum_rows_affected": "rows_affected_delta",
    "sum_rows_sent": "rows_sent_delta",
    "sum_rows_examined": "rows_examined_delta",
    "sum_created_tmp_tables": "created_tmp_tables_delta",
    "sum_created_tmp_disk_tables": "created_tmp_disk_tables_delta",
    "sum_sort_rows": "sort_rows_delta",
    "sum_no_index_used": "no_index_used_delta",
    "sum_no_good_index_used": "no_good_index_used_delta",
}


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET TimeZone = 'UTC'")
    return con


# ------------------------------------------------------------ compare ---
def _norm(v):
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return ("t", v.isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if v is None:
        return ("n",)
    return ("s", str(v))


def canon(rows) -> list[tuple]:
    """Rows as sorted tuples of tagged values (order-insensitive form)."""
    return sorted(tuple(_norm(v) for v in r) for r in rows)


def digest(rows) -> str:
    return hashlib.sha1(repr(canon(rows)).encode()).hexdigest()


def same(got, want) -> str | None:
    """None if equal; else a one-line reason. Floats must agree to a
    relative 1e-9 (parallel double sums differ between engines in the last
    digits); everything else exactly."""
    a, b = canon(got), canon(want)
    if len(a) != len(b):
        return f"{len(a)} rows, reference has {len(b)}"
    for i, (ra, rb) in enumerate(zip(a, b)):
        if len(ra) != len(rb):
            return f"row {i}: {len(ra)} columns, reference has {len(rb)}"
        for va, vb in zip(ra, rb):
            if va == vb:
                continue
            if va[0] == "f" and vb[0] == "f" and math.isclose(va[1], vb[1], rel_tol=1e-9, abs_tol=1e-12):
                continue
            return f"row {i}: {ra} != reference {rb}"
    return None


# ------------------------------------------------------ dashboard SQL ---
def _range(start, end) -> str:
    out = ""
    if start is not None:
        out += f" AND time >= TIMESTAMP '{start}'"
    if end is not None:
        out += f" AND time <= TIMESTAMP '{end}'"
    return out


_ID = {"mysql": "statement_digest", "postgresql": "query_id"}
_METRIC = {"mysql": "total_timer_wait_delta", "postgresql": "total_exec_time_delta"}


def _sum(col: str, system: str) -> str:
    # DuckDB widens BIGINT sums to HUGEINT; Spark keeps LongType
    return f"CAST(sum({col}) AS BIGINT)" if system == "mysql" else f"sum({col})"


def top_queries_sql(system, start=None, end=None, limit=10) -> str:
    m, i = _METRIC[system], _ID[system]
    return f"""
SELECT {i} AS query_identity, max(statement_sample) AS statement_sample,
       CAST(sum(calls_delta) AS BIGINT) AS total_calls, {_sum(m, system)} AS total_metric,
       CASE WHEN sum(calls_delta) > 0 THEN {_sum(m, system)} / CAST(sum(calls_delta) AS BIGINT)
            ELSE 0.0 END AS avg_metric_per_call
FROM qan WHERE db_system = '{system}'{_range(start, end)}
GROUP BY 1 ORDER BY total_metric DESC, query_identity ASC LIMIT {limit}"""


def query_trend_sql(identity, upto, system="mysql") -> str:
    m, i = _METRIC[system], _ID[system]
    return f"""
SELECT time_bucket(INTERVAL 5 MINUTE, time) AS time_bucket,
       CAST(sum(calls_delta) AS BIGINT) AS total_calls, {_sum(m, system)} AS total_metric,
       CASE WHEN sum(calls_delta) > 0 THEN {_sum(m, system)} / CAST(sum(calls_delta) AS BIGINT)
            ELSE 0.0 END AS avg_metric_per_call
FROM qan WHERE db_system = '{system}' AND {i} = '{identity}'{_range(None, upto)}
GROUP BY 1"""


def top_by_multiple_metrics_sql(upto, limit=5) -> str:
    labels = {
        "exec_time": "total_timer_wait_delta",
        "rows_examined": "rows_examined_delta",
        "temp_disk_tables": "created_tmp_disk_tables_delta",
    }
    sums = ", ".join(f"CAST(sum(coalesce({c}, 0)) AS BIGINT) AS {k}" for k, c in labels.items())
    ranked = " UNION ALL ".join(
        f"SELECT * FROM (SELECT '{k}' AS metric, query_identity, CAST({k} AS DOUBLE) AS value "
        f"FROM agg ORDER BY {k} DESC, query_identity ASC LIMIT {limit})"
        for k in labels
    )
    return f"""
WITH agg AS (SELECT statement_digest AS query_identity, {sums}
             FROM qan WHERE db_system = 'mysql'{_range(None, upto)} GROUP BY 1),
r AS ({ranked})
SELECT metric, query_identity, value,
       row_number() OVER (PARTITION BY metric ORDER BY value DESC, query_identity ASC) AS rank
FROM r"""


def compare_systems_sql(upto) -> str:
    return f"""
SELECT db_system, count(*) AS record_count,
       count(DISTINCT coalesce(statement_digest, query_id)) AS unique_queries,
       CAST(sum(calls_delta) AS BIGINT) AS total_calls,
       avg(CASE WHEN calls_delta > 0 THEN
             (CASE WHEN db_system = 'mysql' THEN total_timer_wait_delta / 1e9
                   WHEN db_system = 'postgresql' THEN total_exec_time_delta END) / calls_delta
           END) AS avg_latency_ms
FROM qan WHERE true{_range(None, upto)} GROUP BY db_system"""


def metric_series_sql(names) -> str:
    inl = ", ".join(f"'{n}'" for n in names)
    return f"""
SELECT time_bucket(INTERVAL 5 MINUTE, time) AS time_bucket, metric_name, avg(metric_value) AS avg_value
FROM metrics WHERE metric_name IN ({inl}) GROUP BY 1, 2"""


def buffer_hit_ratio_sql(hit="postgresql.blocks_hit", read="postgresql.blocks_read") -> str:
    return f"""
WITH a AS (
  SELECT time_bucket(INTERVAL 1 MINUTE, time) AS time_bucket, instance_id,
         sum(CASE WHEN metric_name = '{hit}' THEN metric_value END) AS blocks_hit,
         sum(CASE WHEN metric_name = '{read}' THEN metric_value END) AS blocks_read
  FROM metrics WHERE metric_name IN ('{hit}', '{read}') GROUP BY 1, 2)
SELECT time_bucket, instance_id, blocks_hit, blocks_read,
       CASE WHEN coalesce(blocks_hit, 0) + coalesce(blocks_read, 0) > 0
            THEN coalesce(blocks_hit, 0) / (coalesce(blocks_hit, 0) + coalesce(blocks_read, 0))
            ELSE 0.0 END AS hit_ratio
FROM a"""


# ------------------------------------------------- per-tick delta hash ---
def _expected_table(system: str, expected: dict) -> pa.Table:
    """The generator's expected delta rows in qan_db column names."""
    cols = {
        "instance_id": pa.array(expected["instance_id"], pa.string()),
        "key": pa.array(expected["key"], pa.string()),
        "t_us": pa.array(expected["ts_us"], pa.int64()),
    }
    for m, v in expected.items():
        if m in ("instance_id", "key", "ts_us"):
            continue
        cols[MYSQL_TO_QAN[m] if system == "mysql" else f"{m}_delta"] = pa.array(v)
    cols["time_period_seconds"] = pa.array(np.full(len(expected["ts_us"]), 60.0))
    return pa.table(cols)


def _tick_hashes(con, relation: str, cols: list[str]) -> dict[int, tuple[int, str]]:
    rows = con.execute(
        f"SELECT t_us, count(*), CAST(sum(hash({', '.join(cols)})) AS VARCHAR) FROM {relation} GROUP BY t_us"
    ).fetchall()
    return {t: (n, h) for t, n, h in rows}


def compare_ticks(con, system: str, expected: dict) -> list[tuple[int, str]]:
    """Compare qan_db's rows of ``system`` with the generator's expected
    delta rows, per scrape tick, by row count and an order-insensitive
    hash of (instance, statement, every delta, interval). Returns
    ``(tick µs, reason)`` per differing tick."""
    exp = _expected_table(system, expected)
    cols = [c for c in exp.column_names if c != "t_us"]
    con.register("expected_rows", exp)
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW got_rows AS SELECT *, {_ID[system]} AS key, "
        f"epoch_us(time) AS t_us FROM qan WHERE db_system = '{system}'"
    )
    want = _tick_hashes(con, "expected_rows", cols)
    got = _tick_hashes(con, "got_rows", cols)
    con.unregister("expected_rows")
    return [
        (t, f"(rows, hash) {got.get(t)}, generator expects {want.get(t)}")
        for t in sorted(set(want) | set(got))
        if want.get(t) != got.get(t)
    ]
