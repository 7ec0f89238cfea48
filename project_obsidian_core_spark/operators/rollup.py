"""Rollup materialization — the Druid-ingest equivalent (SURVEY §2.1 S9/S10,
§2.4 A1/A2).

qan_db (druid-specs/qan_db_ingestion.json:92-97): queryGranularity=SECOND,
segmentGranularity=HOUR, **rollup=false** — i.e. event rows are kept, their
timestamp truncated to the second, stored in hour-grained segments. Spark
mapping: truncate ``time``, write Parquet partitioned by (event_date,
event_hour) so every notebook query's ``__time BETWEEN`` predicate becomes
partition pruning at 100 TB.

metrics_db (druid-specs/metrics_db_ingestion.json:39-61): **rollup=true** with
longSum/doubleSum + doubleMax/doubleMin at SECOND granularity — a genuine
pre-aggregation. Spark mapping: groupBy(second-truncated time, dims) with
sum/max/min, a map-side-combinable hash aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _with_columns(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``withColumn`` for every ``name: SQL expression`` of ``exprs`` as
    one ``selectExpr`` (one analysis instead of one per column): an
    existing column is replaced in place, a new one is appended."""
    cols = [f"{exprs[c]} AS `{c}`" if c in exprs else f"`{c}`" for c in df.columns]
    cols += [f"{e} AS `{c}`" for c, e in exprs.items() if c not in df.columns]
    return df.selectExpr(*cols)


def _partitions(time_sql: str) -> dict[str, str]:
    return {"event_date": f"to_date({time_sql})", "event_hour": f"hour({time_sql})"}


def with_time_partitions(df: DataFrame, time_col: str = "time") -> DataFrame:
    """Add hour-grained partition columns (segmentGranularity=HOUR)."""
    return _with_columns(df, _partitions(f"`{time_col}`"))


def qan_rollup(qan: DataFrame, time_col: str = "time") -> DataFrame:
    """qan_db ingest shaping: second-truncated time + partition columns.

    rollup=false (qan_db_ingestion.json:96) — no row merging happens; this is
    a projection, not an aggregation, built as one ``selectExpr``.
    """
    trunc = f"date_trunc('second', `{time_col}`)"
    return _with_columns(qan, {time_col: trunc, **_partitions(trunc)})


def write_qan(qan: DataFrame, path: str, mode: str = "append") -> None:
    """Write the qan_db fact table hour-partitioned.

    Idempotency note (SURVEY §7.3): ``mode="append"`` is not idempotent.
    A streaming foreachBatch callback that appends its micro-batch here
    (the scrape → delta stream → dashboard chain does) double-counts an
    epoch that Spark retries.  ``streaming/delta_stream.
    idempotent_parquet_sink`` is exactly-once (a retried epoch overwrites
    its own ``_batch=<epoch>`` directory), but it skips this rollup, so
    its output has no hour partitions to prune.
    """
    (
        qan_rollup(qan)
        .write.mode(mode)
        .partitionBy("event_date", "event_hour")
        .parquet(path)
    )


def metrics_rollup(
    metrics: DataFrame,
    time_col: str = "time",
    granularity: str = "second",
) -> DataFrame:
    """metrics_db ingest rollup: sum/max/min per (second, instance, system,
    metric_name, labels) — metrics_db_ingestion.json:39-61, rollup=true.

    The groupBy is a hash aggregate with map-side partial aggregation, so at
    scale each executor pre-collapses its own rows before the shuffle; the
    shuffled key space is (seconds x instances x metric names), far smaller
    than the input.

    MapType is not a valid grouping key in Spark, so the labels map is keyed
    by its canonical (entry-sorted) JSON rendering and carried through with
    ``first`` — deterministic because all rows in a group share the key.
    """
    bucket = F.date_trunc(granularity, F.col(time_col)).alias("time")
    labels_key = F.to_json(
        F.map_from_entries(F.array_sort(F.map_entries(F.col("metric_labels"))))
    ).alias("__labels_key")
    return (
        metrics.groupBy(
            bucket,
            F.col("instance_id"),
            F.col("db_system"),
            F.col("metric_name"),
            labels_key,
        )
        .agg(
            F.first("metric_labels").alias("metric_labels"),
            F.sum("metric_value").alias("metric_value"),
            F.max("metric_max").alias("metric_max"),
            F.min("metric_min").alias("metric_min"),
        )
        .drop("__labels_key")
    )


def write_metrics(metrics: DataFrame, path: str, mode: str = "append") -> None:
    """Write the metrics_db fact table hour-partitioned."""
    (
        with_time_partitions(metrics_rollup(metrics))
        .write.mode(mode)
        .partitionBy("event_date", "event_hour")
        .parquet(path)
    )
