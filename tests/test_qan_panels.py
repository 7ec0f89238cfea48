"""The dashboard panels (``analytics.qan``, ``analytics.metrics``) against
DuckDB, row for row and in order, on a tiny qan_db and metrics_db written
through ``rollup.write_qan`` / ``rollup.write_metrics``.

The input covers the cases a panel rewrite can get wrong without any
dashboard noticing:

* a range that holds no rows (every panel returns zero rows);
* NULL metrics and NULL calls (sums skip them, the guarded averages fall
  back to 0.0, ``top_by_multiple_metrics`` counts them as 0);
* a tie on ``total_metric`` (broken by ``query_identity`` ascending);
* MySQL timer sums above 2**53 that differ as longs but cast to the same
  double.  ``top_by_multiple_metrics`` picks its top N by the long sum
  and only then ranks the chosen rows by ``(double value, id)``, so the
  row that would win on ``(double, id)`` alone stays out.

It also pins the fixed cost of one refresh: on a second pass with the
same literals the panel set compiles no new classes, each panel runs at
most its budget of Spark jobs, and a ten-minute range on the three-hour
table reads only one hour's files.  Float columns compare to a relative
1e-9 (parallel double sums may differ in the last digits); everything
else compares exactly.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pytest

from project_obsidian_core_spark import schemas
from project_obsidian_core_spark.analytics import metrics as AM
from project_obsidian_core_spark.analytics import qan as AQ
from project_obsidian_core_spark.operators import rollup as OR

T0 = dt.datetime(2026, 3, 1, 8, 0, 0)
PS = 1_000_000_000_000
BIG = 2**60  # 2**60 + k casts to the same double for |k| < 128
HIT, READ = "postgresql.blocks_hit", "postgresql.blocks_read"
SERIES = [HIT, "mysql.threads_running"]


def _at(minutes: int) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


def _s(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _qan_row(minutes, system, ident, sample, calls, metric, rows_examined=None, tmp=None, sec=0):
    row = dict.fromkeys(schemas.QAN_DB_SCHEMA.fieldNames())
    row.update(
        time=_at(minutes) + dt.timedelta(seconds=sec, microseconds=250_000),
        service_name=schemas.SERVICE_NAME,
        db_system=system,
        instance_id=f"{system}-1",
        statement_sample=sample,
        calls_delta=calls,
        rows_examined_delta=rows_examined,
        time_period_seconds=60.0,
    )
    if system == "mysql":
        row.update(statement_digest=ident, total_timer_wait_delta=metric, created_tmp_disk_tables_delta=tmp)
    else:
        row.update(query_id=ident, total_exec_time_delta=metric, temp_blks_written_delta=tmp)
    return tuple(row[f] for f in schemas.QAN_DB_SCHEMA.fieldNames())


def _qan_rows():
    rows = []
    # three hours of traffic: 08:00-08:50, 09:00-09:50, 10:00-10:50
    for hour in range(3):
        for m in range(0, 60, 10):
            t = hour * 60 + m
            rows += [
                _qan_row(t, "mysql", "tA", "SELECT a", 5, 3 * PS, 10, 0),
                _qan_row(t, "mysql", "tB", "SELECT b", 3, 3 * PS, 30, 1),  # ties tA
                _qan_row(t, "mysql", "nN", None, None, None, None, None, sec=7),
                _qan_row(t, "mysql", "nN", "SELECT n", 2, 1 * PS, 5, None, sec=9),
                _qan_row(t, "postgresql", "p1", "SELECT 1", 4, 2.5, 40, 2),
                _qan_row(t, "postgresql", "p2", "SELECT 2", 0, None, None, None),
                _qan_row(t, "postgresql", "p3", "SELECT 3", 2, 2.5, 40, 2),  # ties p1 on time
            ]
    # one burst of huge timer sums at 09:20: longs differ, doubles do not
    for ident, k in (("q3", 1), ("q2", 2), ("q1", 3)):
        for half in (BIG // 2, BIG // 2 + k):
            rows.append(_qan_row(80, "mysql", ident, f"SELECT {ident}", 1, half, half, half))
    return rows


def _metric_rows():
    rows = []
    for minute in range(0, 180, 3):
        for inst in ("pg-1", "pg-2"):
            hit = None if (minute == 33 and inst == "pg-2") else float(90 + minute % 7)
            rows += [
                (_at(minute), inst, "postgresql", HIT, {"db": "shop"}, hit, hit, hit),
                (_at(minute), inst, "postgresql", READ, {"db": "shop"}, float(minute % 5), 1.0, 0.0),
            ]
        # only reads in this minute: hit ratio 0 / NULL blocks_hit
        if minute % 30 == 0:
            rows.append((_at(minute + 1), "pg-3", "postgresql", READ, {}, 4.0, 4.0, 4.0))
        rows.append((_at(minute), "my-1", "mysql", "mysql.threads_running", {}, float(minute % 11), 1.0, 1.0))
    return rows


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("panels")
    qan_path, metrics_path = str(root / "qan_db"), str(root / "metrics_db")
    OR.write_qan(spark.createDataFrame(_qan_rows(), schemas.QAN_DB_SCHEMA), qan_path, mode="overwrite")
    OR.write_metrics(spark.createDataFrame(_metric_rows(), schemas.METRICS_DB_SCHEMA), metrics_path, mode="overwrite")
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW qan AS SELECT * FROM read_parquet('{qan_path}/**/*.parquet')")
    con.execute(f"CREATE VIEW metrics AS SELECT * FROM read_parquet('{metrics_path}/**/*.parquet')")
    yield spark.read.parquet(qan_path), spark.read.parquet(metrics_path), con, qan_path
    con.close()


# ------------------------------------------------------------ oracles ---
_ID = {"mysql": "statement_digest", "postgresql": "query_id"}
_METRIC = {"mysql": "total_timer_wait_delta", "postgresql": "total_exec_time_delta"}
_MULTI = {
    "mysql": {
        "exec_time": "total_timer_wait_delta",
        "rows_examined": "rows_examined_delta",
        "temp_disk_tables": "created_tmp_disk_tables_delta",
    },
    "postgresql": {
        "exec_time": "total_exec_time_delta",
        "rows_examined": "rows_examined_delta",
        "temp_blks_written": "temp_blks_written_delta",
    },
}


def _range(start, end):
    out = ""
    if start is not None:
        out += f" AND time >= TIMESTAMP '{start}'"
    if end is not None:
        out += f" AND time <= TIMESTAMP '{end}'"
    return out


def _sum(col, system):
    # DuckDB widens BIGINT sums to HUGEINT; Spark keeps LongType
    return f"CAST(sum({col}) AS BIGINT)" if system == "mysql" else f"sum({col})"


def _avg(m, system):
    return (
        f"CASE WHEN sum(calls_delta) > 0 THEN {_sum(m, system)} / CAST(sum(calls_delta) AS BIGINT)"
        " ELSE 0.0 END"
    )


def top_queries_sql(system, start=None, end=None, limit=10, sample=None):
    m, i = _METRIC[system], _ID[system]
    like = f" AND statement_sample LIKE '%{sample}%'" if sample else ""
    return f"""
SELECT {i} AS query_identity, max(statement_sample), CAST(sum(calls_delta) AS BIGINT),
       {_sum(m, system)} AS total_metric, {_avg(m, system)}
FROM qan WHERE db_system = '{system}'{_range(start, end)}{like}
GROUP BY 1 ORDER BY total_metric DESC NULLS LAST, query_identity ASC NULLS FIRST LIMIT {limit}"""


def query_trend_sql(ident, system="mysql", start=None, end=None, bucket_s=300):
    m, i = _METRIC[system], _ID[system]
    return f"""
SELECT (epoch_us(time) // {bucket_s * 10**6}) * {bucket_s * 10**6} AS b,
       CAST(sum(calls_delta) AS BIGINT), {_sum(m, system)}, {_avg(m, system)}
FROM qan WHERE db_system = '{system}' AND {i} = '{ident}'{_range(start, end)}
GROUP BY 1 ORDER BY b"""


def top_by_multiple_metrics_sql(system, start=None, end=None, limit=5):
    labels = _MULTI[system]
    sums = ", ".join(f"{_sum(f'coalesce({c}, 0)', system)} AS {k}" for k, c in labels.items())
    ranked = " UNION ALL ".join(
        f"SELECT * FROM (SELECT '{k}' AS metric, query_identity, CAST({k} AS DOUBLE) AS value "
        f"FROM agg ORDER BY {k} DESC, query_identity ASC LIMIT {limit})"
        for k in labels
    )
    return f"""
WITH agg AS (SELECT {_ID[system]} AS query_identity, {sums}
             FROM qan WHERE db_system = '{system}'{_range(start, end)} GROUP BY 1),
r AS ({ranked})
SELECT metric, query_identity, value,
       row_number() OVER (PARTITION BY metric ORDER BY value DESC, query_identity ASC) AS rank
FROM r ORDER BY metric, value DESC, query_identity"""


def compare_systems_sql(start=None, end=None):
    return f"""
SELECT db_system, count(*), count(DISTINCT coalesce(statement_digest, query_id)),
       CAST(sum(calls_delta) AS BIGINT),
       avg(CASE WHEN calls_delta > 0 THEN
             (CASE WHEN db_system = 'mysql' THEN total_timer_wait_delta / 1e9
                   WHEN db_system = 'postgresql' THEN total_exec_time_delta END) / calls_delta
           END)
FROM qan WHERE true{_range(start, end)} GROUP BY db_system ORDER BY db_system"""


def metric_series_sql(names, start=None, end=None):
    inl = ", ".join(f"'{n}'" for n in names)
    return f"""
SELECT (epoch_us(time) // 300000000) * 300000000 AS b, metric_name, avg(metric_value)
FROM metrics WHERE metric_name IN ({inl}){_range(start, end)} GROUP BY 1, 2 ORDER BY b, metric_name"""


def buffer_hit_ratio_sql(start=None, end=None):
    return f"""
WITH a AS (
  SELECT (epoch_us(time) // 60000000) * 60000000 AS b, instance_id,
         sum(CASE WHEN metric_name = '{HIT}' THEN metric_value END) AS blocks_hit,
         sum(CASE WHEN metric_name = '{READ}' THEN metric_value END) AS blocks_read
  FROM metrics WHERE metric_name IN ('{HIT}', '{READ}'){_range(start, end)} GROUP BY 1, 2)
SELECT b, instance_id, blocks_hit, blocks_read,
       CASE WHEN coalesce(blocks_hit, 0) + coalesce(blocks_read, 0) > 0
            THEN coalesce(blocks_hit, 0) / (coalesce(blocks_hit, 0) + coalesce(blocks_read, 0))
            ELSE 0.0 END
FROM a ORDER BY b, instance_id"""


# ------------------------------------------------------------ compare ---
def _norm(v):
    if isinstance(v, dt.datetime):  # Spark hands back local wall time
        return round(v.timestamp() * 1_000_000)
    return v


def assert_rows(got, want):
    got = [tuple(_norm(v) for v in r) for r in got]
    assert len(got) == len(want), (got, want)
    for i, (g, w) in enumerate(zip(got, want)):
        assert len(g) == len(w), (i, g, w)
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12), (i, g, w)
            else:
                assert a == b and type(a) is type(b), (i, g, w)


WINDOWS = {
    "all": (None, None),
    "upto": (None, _s(_at(150))),
    "ten_minutes": (_s(_at(95)), _s(_at(105))),
    "one_hour_plus": (_s(_at(50)), _s(_at(125))),
    "empty": (_s(_at(300)), _s(_at(400))),
}


def _panels(qan, met, start, end):
    """Panel name -> (Spark rows, DuckDB SQL) over one time range."""
    out = {}
    for system in ("mysql", "postgresql"):
        out[f"top_queries/{system}"] = (AQ.top_queries(qan, system, start=start, end=end), top_queries_sql(system, start, end))
        out[f"top2/{system}"] = (
            AQ.top_queries(qan, system, start=start, end=end, limit=2),
            top_queries_sql(system, start, end, limit=2),
        )
        out[f"multi/{system}"] = (
            AQ.top_by_multiple_metrics(qan, system, limit=2, start=start, end=end),
            top_by_multiple_metrics_sql(system, start, end, limit=2),
        )
    out["top_sample"] = (
        AQ.top_queries(qan, "mysql", start=start, end=end, sample_filter="SELECT q"),
        top_queries_sql("mysql", start, end, sample="SELECT q"),
    )
    out["trend/tA"] = (AQ.query_trend(qan, "tA", "mysql", start=start, end=end), query_trend_sql("tA", start=start, end=end))
    out["trend/nN"] = (AQ.query_trend(qan, "nN", "mysql", start=start, end=end), query_trend_sql("nN", start=start, end=end))
    out["trend/p2"] = (
        AQ.query_trend(qan, "p2", "postgresql", bucket="1 hour", start=start, end=end),
        query_trend_sql("p2", "postgresql", start, end, bucket_s=3600),
    )
    out["compare_systems"] = (AQ.compare_systems(qan, start=start, end=end), compare_systems_sql(start, end))
    out["metric_series"] = (AM.metric_series(met, SERIES, start=start, end=end), metric_series_sql(SERIES, start, end))
    out["buffer_hit_ratio"] = (AM.buffer_hit_ratio(met, start=start, end=end), buffer_hit_ratio_sql(start, end))
    return out


@pytest.mark.parametrize("window", sorted(WINDOWS))
def test_panels_match_duckdb_in_order(tables, window):
    qan, met, con, _ = tables
    for panel, (df, sql) in _panels(qan, met, *WINDOWS[window]).items():
        want = con.execute(sql).fetchall()
        got = df.collect()
        if window == "empty":
            assert got == [] and want == [], panel
        elif window == "all":
            assert want, panel  # the whole table reaches every panel
        try:
            assert_rows(got, want)
        except AssertionError as e:
            raise AssertionError(f"{window} {panel}: {e}") from None


def test_big_sums_rank_by_double_after_long_top_n(tables):
    """The cut is by long, the rank by (double, id): q1 holds the largest
    long sum but q1 < q2 < q3 all cast to 2**60."""
    qan, _, _, _ = tables
    rows = AQ.top_by_multiple_metrics(qan, "mysql", limit=2, start=_s(_at(80)), end=_s(_at(80)))
    got = [(r["metric"], r["query_identity"], r["value"], r["rank"]) for r in rows.collect()]
    # longs: q1 = 2**60 + 3 > q2 = 2**60 + 2 > q3 = 2**60 + 1
    assert got == [
        ("exec_time", "q1", float(BIG), 1),
        ("exec_time", "q2", float(BIG), 2),
        ("rows_examined", "q1", float(BIG), 1),
        ("rows_examined", "q2", float(BIG), 2),
        ("temp_disk_tables", "q1", float(BIG), 1),
        ("temp_disk_tables", "q2", float(BIG), 2),
    ]
    top = AQ.top_queries(qan, "mysql", limit=2, start=_s(_at(80)), end=_s(_at(80))).collect()
    assert [(r["query_identity"], r["total_metric"]) for r in top] == [("q1", BIG + 3), ("q2", BIG + 2)]


def test_output_schemas(tables):
    qan, met, _, _ = tables
    want = {
        "top_queries": "query_identity:string,statement_sample:string,total_calls:bigint,"
        "total_metric:bigint,avg_metric_per_call:double",
        "query_trend": "time_bucket:timestamp,total_calls:bigint,total_metric:bigint,avg_metric_per_call:double",
        "top_by_multiple_metrics": "metric:string,query_identity:string,value:double,rank:int",
        "compare_systems": "db_system:string,record_count:bigint,unique_queries:bigint,total_calls:bigint,"
        "avg_latency_ms:double",
        "metric_series": "time_bucket:timestamp,metric_name:string,avg_value:double",
        "buffer_hit_ratio": "time_bucket:timestamp,instance_id:string,blocks_hit:double,blocks_read:double,"
        "hit_ratio:double",
    }
    got = {
        "top_queries": AQ.top_queries(qan),
        "query_trend": AQ.query_trend(qan, "tA"),
        "top_by_multiple_metrics": AQ.top_by_multiple_metrics(qan),
        "compare_systems": AQ.compare_systems(qan),
        "metric_series": AM.metric_series(met, SERIES),
        "buffer_hit_ratio": AM.buffer_hit_ratio(met),
    }
    for name, df in got.items():
        assert df.schema.simpleString() == f"struct<{want[name]}>", name


# --------------------------------------------------------- fixed cost ---
#: Spark jobs per panel call: one per shuffle stage plus the result stage
#: (a global sort would add a sampling job and one more shuffle)
JOB_BUDGET = {
    "top_queries": 2,
    "top_queries_range": 2,
    "query_trend": 2,
    "top_by_multiple_metrics": 3,
    "compare_systems": 3,
    "metric_series": 2,
    "buffer_hit_ratio": 2,
}


def _scan_files(df) -> list[int]:
    """Files read by each parquet scan of ``df``'s executed plan."""
    out = []

    def walk(plan):
        kind = plan.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(plan.executedPlan())
        if kind.endswith("QueryStageExec"):
            return walk(plan.plan())
        if plan.metrics().contains("numFiles"):
            out.append(plan.metrics().apply("numFiles").value())
        children = plan.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_refresh_compiles_once_and_keeps_job_budget(spark, tables):
    """Two refreshes with the same literals: the second generates no new
    class (the codegen cache holds the whole panel set), and no panel
    runs more jobs than its budget."""
    qan, met, _, _ = tables
    start, end = WINDOWS["ten_minutes"]
    panels = {
        "top_queries": lambda: AQ.top_queries(qan, "postgresql"),
        "top_queries_range": lambda: AQ.top_queries(qan, "mysql", start=start, end=end),
        "query_trend": lambda: AQ.query_trend(qan, "tA", "mysql"),
        "top_by_multiple_metrics": lambda: AQ.top_by_multiple_metrics(qan, "mysql"),
        "compare_systems": lambda: AQ.compare_systems(qan),
        "metric_series": lambda: AM.metric_series(met, SERIES),
        "buffer_hit_ratio": lambda: AM.buffer_hit_ratio(met),
    }
    sc = spark.sparkContext
    compile_time = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compiled = []
    for refresh in range(2):
        before = compile_time.getCount()
        for name, panel in panels.items():
            group = f"test_qan_panels/{name}/{refresh}"
            sc.setJobGroup(group, group)
            try:
                panel().collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert jobs <= JOB_BUDGET[name], (name, jobs)
        compiled.append(compile_time.getCount() - before)
    assert compiled[1] == 0, compiled


def test_ten_minute_range_reads_one_hour(tables):
    """The range's bounds prune the hour partitions: 09:35-09:45 on a
    three-hour table reads the files of hour 9 only, and the whole table
    reads all of them."""
    import os

    qan, _, _, qan_path = tables

    def files(d):
        return sum(f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs)

    hour_9 = files(f"{qan_path}/event_date=2026-03-01/event_hour=9")
    assert 0 < hour_9 < files(qan_path)
    ranged = AQ.top_queries(qan, "mysql", start=WINDOWS["ten_minutes"][0], end=WINDOWS["ten_minutes"][1])
    ranged.collect()
    assert _scan_files(ranged) == [hour_9]
    whole = AQ.top_by_multiple_metrics(qan, "mysql")
    whole.collect()
    assert _scan_files(whole) == [files(qan_path)]  # one scan for three rankings
