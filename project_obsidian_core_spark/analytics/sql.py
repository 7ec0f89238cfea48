"""SQL-text pieces for the dashboard panels.

A panel is built from a few SQL strings (one ``where``, one grouping, one
``selectExpr``) instead of a chain of ``Column`` calls: every ``Column``
call is a py4j round trip and every ``withColumn`` re-analyzes the plan,
which made up most of a panel's fixed driver cost.  These helpers render
the literals and the time range those strings need, build the filtered
aggregate (:func:`aggregate`) and order a bounded result
(:func:`in_order`).

The SQL text has one cost the ``Column`` chain did not: Spark's ANTLR
parser caches its prediction DFA per syntactic shape, in static JVM
memory.  Parsing the panels and the qan shaping once grows it by about
3 MB; it does not grow with refreshes.
"""

from __future__ import annotations

from collections.abc import Iterable
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def quote(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    """``name`` as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def in_list(column: str, values: Iterable[str]) -> str:
    """``column IN (values)``; an empty list matches no row."""
    values = list(values)
    if not values:
        return "false"
    return f"{ident(column)} IN ({', '.join(quote(v) for v in values)})"


def _timestamp(bound: datetime | str) -> str:
    """The timestamp ``F.lit(bound).cast("timestamp")`` evaluates to: a
    ``datetime`` converts as PySpark converts it (naive means the Python
    process's local time), a string is cast in the session time zone."""
    if isinstance(bound, datetime):
        return f"timestamp_micros({T.TimestampType().toInternal(bound)})"
    return f"CAST({quote(str(bound))} AS TIMESTAMP)"


def time_range(
    columns: Iterable[str],
    start: datetime | str | None,
    end: datetime | str | None,
) -> list[str]:
    """Predicates for ``start <= time <= end`` (P5: ``__time BETWEEN``),
    either bound optional.

    The ``time`` predicate is always kept, so the rows are exact.  When
    the relation carries the hour partition columns ``event_date`` and
    ``event_hour`` (``rollup.write_qan`` / ``write_metrics``), each bound
    also becomes a predicate on those columns alone, which Spark applies
    as a partition filter: a range read touches only the hours it
    covers.  Both partition columns were derived from ``time`` in the
    writer's session time zone, which ``session.build_session`` and
    ``pin_session_defaults`` pin to UTC; the bounds are derived in the
    reader's, so both must agree.
    """
    columns = set(columns)
    partitioned = {"event_date", "event_hour"} <= columns
    out = []
    for bound, op in ((start, ">="), (end, "<=")):
        if bound is None:
            continue
        ts = _timestamp(bound)
        out.append(f"time {op} {ts}")
        if partitioned:
            out.append(
                f"(event_date {op[0]} to_date({ts})"
                f" OR (event_date = to_date({ts}) AND event_hour {op} hour({ts})))"
            )
    return out


def aggregate(df: DataFrame, predicates: list[str], keys: list[str], aggs: list[str]) -> DataFrame:
    """``SELECT keys, aggs FROM df WHERE predicates GROUP BY keys``."""
    if predicates:
        df = df.where(" AND ".join(f"({p})" for p in predicates))
    return df.groupBy(*[F.expr(k) for k in keys]).agg(*[F.expr(a) for a in aggs])


def in_order(df: DataFrame, *order) -> DataFrame:
    """``ORDER BY order`` for a result bounded by construction: one
    partition and a local sort, instead of a global sort's sampling job
    and range shuffle.  ``coalesce`` is narrow: the stage after the last
    shuffle runs as one task, over that shuffle's map-side-aggregated
    output (at most the result's rows per map task), never over raw
    rows."""
    return df.coalesce(1).sortWithinPartitions(*order)
