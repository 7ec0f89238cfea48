"""QAN analytics query surface over the qan_db fact table.

Re-expresses the reference's notebook Druid SQL as a DataFrame API
(SURVEY §3.3): each function mirrors one notebook query shape —
jupyter-notebooks/02-Query_Analysis.ipynb (get_top_queries cell-4,
analyze_query_trend cell-4, multi-metric CTE+UNION cell-12) and
notebooks/qan_analysis_example.ipynb (MySQL/PG top-N cells,
metrics-comparison cell).

All functions are pure logical-plan constructors, and a dashboard calls
them on every refresh, so their fixed driver cost is the refresh's cost:

* **One lean plan per panel.** Each panel is a few SQL strings — one
  ``where``, one grouping, one ``selectExpr`` — not a chain of ``Column``
  calls (each a py4j round trip) and ``withColumn`` calls (each a fresh
  analysis).
* **Filters first** (:func:`analytics.sql.time_range`): the exact
  ``time`` predicate plus, on an hour-partitioned table, the bounds on
  ``event_date``/``event_hour`` that prune partitions before the scan.
* **Aggregates use built-in functions only** (whole-stage codegen,
  map-side partials), and each input is scanned once.
* **Ordering never costs a range-partition sampling job.** A top-N is
  ``orderBy`` + ``limit`` (TakeOrderedAndProject: per-partition heaps and
  one bounded merge). A panel whose result is bounded by construction —
  per system, per time bucket of one query, the ≤ 3×limit ranking —
  finishes in one partition (``coalesce(1)`` + ``sortWithinPartitions``)
  instead of a global sort (a sampling job plus one more shuffle).

Spark jobs per call (one per shuffle stage, plus the result stage):
``top_queries`` 2, ``query_trend`` 2, ``top_by_multiple_metrics`` 3,
``compare_systems`` 3.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from project_obsidian_core_spark.analytics.sql import aggregate, ident, in_order, quote, time_range

#: metric column resolving the notebook's `{metric}` parameter per system
DEFAULT_METRIC = {"mysql": "total_timer_wait_delta", "postgresql": "total_exec_time_delta"}
ID_COLUMN = {"mysql": "statement_digest", "postgresql": "query_id"}


def _totals(metric: str) -> list[str]:
    """total_calls, total_metric and (A4: CASE WHEN SUM(calls)>0 THEN
    SUM(x)/SUM(calls) ELSE 0 END, ``functions.units.guarded_div``)
    avg_metric_per_call, as aggregate expressions: the repeated sums are
    one aggregate each, and the average needs no projection of its own."""
    calls, total = "sum(calls_delta)", f"sum({ident(metric)})"
    return [
        f"{calls} AS total_calls",
        f"{total} AS total_metric",
        f"CASE WHEN {calls} > 0 THEN {total} / {calls} ELSE 0.0D END AS avg_metric_per_call",
    ]


def top_queries(
    qan: DataFrame,
    db_system: str = "mysql",
    metric: str | None = None,
    start: datetime | str | None = None,
    end: datetime | str | None = None,
    limit: int = 10,
    sample_filter: str | None = None,
) -> DataFrame:
    """Top-N queries by total of ``metric`` — the signature QAN query
    (02-Query_Analysis.ipynb cell-4 get_top_queries; A3+A4+O1).

    Returns (identity, sample, total_calls, total_metric, avg_metric_per_call)
    ordered by ``total_metric`` descending, then identity.
    """
    metric = metric or DEFAULT_METRIC[db_system]
    preds = [f"db_system = {quote(db_system)}", *time_range(qan.columns, start, end)]
    if sample_filter:
        preds.append(f"statement_sample LIKE {quote(f'%{sample_filter}%')}")  # P6
    agg = aggregate(
        qan,
        preds,
        [f"{ident(ID_COLUMN[db_system])} AS query_identity"],
        ["max(statement_sample) AS statement_sample", *_totals(metric)],
    )
    return agg.orderBy(F.desc("total_metric"), "query_identity").limit(limit)


def query_trend(
    qan: DataFrame,
    query_identity: str,
    db_system: str = "mysql",
    metric: str | None = None,
    bucket: str = "5 minutes",
    start: datetime | str | None = None,
    end: datetime | str | None = None,
) -> DataFrame:
    """Per-query time-series trend (analyze_query_trend, A6+P7):
    TIME_FLOOR(__time, PT5M) buckets of calls and metric totals, ordered
    by bucket.

    One query's series has one row per bucket of the range, so it is
    finished in one partition (:func:`analytics.sql.in_order`).
    """
    metric = metric or DEFAULT_METRIC[db_system]
    preds = [
        f"db_system = {quote(db_system)}",
        f"{ident(ID_COLUMN[db_system])} = {quote(query_identity)}",
        *time_range(qan.columns, start, end),
    ]
    agg = aggregate(
        qan,
        preds,
        [f"window(time, {quote(bucket)}).start AS time_bucket"],
        _totals(metric),
    )
    return in_order(agg, "time_bucket")


def top_by_multiple_metrics(
    qan: DataFrame,
    db_system: str = "mysql",
    limit: int = 5,
    start: datetime | str | None = None,
    end: datetime | str | None = None,
) -> DataFrame:
    """Multi-metric ranked comparison (02-Query_Analysis.ipynb cell-12:
    three ranked CTEs UNION ALLed; W1+U1+O3+P9).

    Ranks the same aggregated relation by three metrics, tags each ranking
    with a literal label, and sorts (metric, value desc, identity).

    One aggregate computes all three sums in one scan.  ``stack`` turns
    each identity's row into one row per label, and a ``row_number`` per
    label keeps the top ``limit`` by the sum in its own type (a long sum
    is cut as a long: two sums above 2**53 can differ as longs yet cast
    to the same double).  Spark plans that cut as a partial per-label
    limit before the shuffle, so at most 3 × limit rows per map task
    cross it.  Only then is ``value`` (the sum as a double) ranked
    (P9: ``row_number`` by value desc, identity), and the ≤ 3×limit rows
    are ordered in one partition.
    """
    labels = {
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
    }[db_system]
    agg = aggregate(
        qan,
        [f"db_system = {quote(db_system)}", *time_range(qan.columns, start, end)],
        [f"{ident(ID_COLUMN[db_system])} AS query_identity"],
        [f"sum(coalesce({ident(c)}, 0)) AS {label}" for label, c in labels.items()],
    )
    # one sort key per distinct sum type; a label fills its own type's key
    types = dict(agg.dtypes)
    slots = sorted({types[label] for label in labels})
    rows = ", ".join(
        ", ".join(
            [quote(label)]
            + [label if types[label] == t else f"CAST(NULL AS {t})" for t in slots]
            + [f"CAST({label} AS DOUBLE)"]
        )
        for label in labels
    )
    keys = [f"k{i}" for i in range(len(slots))]
    cut = ", ".join(f"{k} DESC" for k in keys)
    ranked = (
        agg.selectExpr(
            "query_identity", f"stack({len(labels)}, {rows}) AS (metric, {', '.join(keys)}, value)"
        )
        .selectExpr(
            "metric",
            "query_identity",
            "value",
            f"row_number() OVER (PARTITION BY metric ORDER BY {cut}, query_identity) AS cut",
        )
        .where(f"cut <= {int(limit)}")
        .selectExpr(
            "coalesce(metric, '') AS metric",  # stack types it nullable; a label never is
            "query_identity",
            "value",
            "row_number() OVER (PARTITION BY metric ORDER BY value DESC, query_identity) AS `rank`",
        )
    )
    return in_order(ranked, "metric", F.desc("value"), "query_identity")  # O3


def compare_systems(
    qan: DataFrame,
    start: datetime | str | None = None,
    end: datetime | str | None = None,
) -> DataFrame:
    """Cross-system summary (qan_analysis_example.ipynb metrics-comparison
    cell; A7+A8): per db_system — record count, distinct queries, total
    calls, and an avg-latency-ms that dispatches on system (MySQL ps->ms,
    PG already ms).  One row per system, so it is ordered in one
    partition."""
    latency_ms = (
        "CASE WHEN db_system = 'mysql' THEN total_timer_wait_delta / 1.0E9D"
        " WHEN db_system = 'postgresql' THEN total_exec_time_delta END"
    )
    agg = aggregate(
        qan,
        time_range(qan.columns, start, end),
        ["db_system"],
        [
            "count(1) AS record_count",
            "count(DISTINCT coalesce(statement_digest, query_id)) AS unique_queries",
            "sum(calls_delta) AS total_calls",
            f"avg(CASE WHEN calls_delta > 0 THEN ({latency_ms}) / calls_delta END) AS avg_latency_ms",
        ],
    )
    return in_order(agg, "db_system")
