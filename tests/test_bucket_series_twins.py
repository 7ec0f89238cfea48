"""Oracle coverage for the bucket-series stream twins that no other test
replays end to end.

Each query runs from the registry on the sf0.001 fixture and must equal
its DuckDB oracle bit-exactly, compared with the normalizer of
``scripts/oracle_check.py``.  A twin that drains to zero rows would match
an equally empty oracle, so every result must also be non-empty.
"""

from __future__ import annotations

import duckdb
import pytest

from scripts.oracle_check import TABLES, approx_equal, sorted_rows

UNTESTED_TWINS = [
    "stream_ewma",
    "stream_spc_rules",
    "stream_seasonal_decompose",
    "stream_autoperiod",
    "stream_winsorize",
    "stream_range_rate",
    "stream_forecast_backtest",
    "stream_supplier_hhi",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", UNTESTED_TWINS)
def test_twin_matches_its_oracle(spark, sf_dir, duck, name):
    from project_obsidian_core_spark.plans.registry import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    rel = duck.sql(ORACLES[name])
    d_cols, d_rows = rel.columns, rel.fetchall()

    assert s_rows, f"{name} drained no rows"
    assert sorted(s_cols) == sorted(d_cols)
    a, b = sorted_rows(s_cols, s_rows), sorted_rows(d_cols, d_rows)
    assert a == b, (
        "float jitter only" if approx_equal(a, b) else "values differ",
        len(a),
        len(b),
    )
