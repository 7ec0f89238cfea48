"""Snapshot differencing — the engine's core operator (SURVEY §2.3 J1, §2.9).

Reference semantics (mysql/snapshot.go:159-239, postgresql/snapshot.go:183-279,
collector first-tick guard mysql/collector.go:75-85):

- Snapshots are cumulative-counter tables keyed by (instance_id, digest),
  scraped periodically.
- **Delta** per metric: ``curr - prev`` when ``curr >= prev``, else ``curr``
  (counter reset — server restart / TRUNCATE performance_schema, T3).
- **New key**: digest absent from the previous snapshot -> the full cumulative
  value is this interval's delta (T4).
- **First snapshot of an instance**: nothing is emitted at all (T2).
- **Activity filter**: rows whose calls-delta is 0 are dropped before emission
  (mysql/snapshot.go:207, P3).
- **Interval metadata**: ``time_period_seconds = curr.ts - prev.ts`` at the
  *snapshot* level is attached to every delta row (T5).

Spark-first realization (batch): a lag window over
``partitionBy(instance_id, key).orderBy(snapshot_ts)`` — no driver-side state,
fully distributed, shuffle-partitioned by key. At 100 TB the shuffle is keyed
on (instance, digest), which is high-cardinality and uniform (bounded per
instance by pg_stat_statements.max=10000 / perf-schema digest limits), so no
skew handling is needed. The snapshot-level Δt is computed on the tiny
distinct (instance, ts) relation and broadcast back.

The streaming form (true consecutive-snapshot map probe, exactly the
reference's SnapshotStore) lives in ``streaming/delta_stream.py``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from project_obsidian_core_spark import schemas


def _reset_aware_delta(curr: Column, prev: Column) -> Column:
    """T3/T4: ``curr - prev`` if monotone, ``curr`` on reset or new key."""
    return (
        F.when(prev.isNull(), curr)
        .when(curr >= prev, curr - prev)
        .otherwise(curr)
    )


def compute_deltas(
    snapshots: DataFrame,
    key_cols: Sequence[str],
    metric_cols: Sequence[str],
    ts_col: str = "snapshot_ts",
    instance_col: str = "instance_id",
    activity_col: str | None = None,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Generic reset-aware snapshot differencing.

    Parameters mirror the reference's CalculateDeltas contract: ``key_cols``
    identifies a statement within an instance (digest / query_id), every
    column in ``metric_cols`` is differenced, ``activity_col`` names the
    metric whose positive delta gates emission (count_star / calls),
    ``carry_cols`` are identity columns copied through from the current
    snapshot (digest_text, schema_name, ...).

    Returns one row per (instance, key, snapshot_ts>first) with columns
    ``<metric>_delta``, ``time_period_seconds`` and the carried identities.
    """
    key = [instance_col, *key_cols]
    w = Window.partitionBy(*key).orderBy(ts_col)

    # Snapshot-level Δt and previous-tick timestamp: distinct (instance, ts)
    # is tiny (one row per scrape tick per instance), so compute the lag
    # there and broadcast-join back.
    snap_times = snapshots.select(instance_col, ts_col).distinct()
    w_inst = Window.partitionBy(instance_col).orderBy(ts_col)
    snap_meta = snap_times.select(
        F.col(instance_col),
        F.col(ts_col),
        F.lag(ts_col).over(w_inst).alias("__prev_snap_ts"),
    ).withColumn(
        "time_period_seconds",
        (
            F.col(ts_col).cast("double") - F.col("__prev_snap_ts").cast("double")
        ),
    )

    deltas = snapshots.join(
        F.broadcast(snap_meta), on=[instance_col, ts_col], how="left"
    )
    # Reference SnapshotStore semantics (T4): prev is valid ONLY when the key
    # appeared in the instance's *immediately-previous* scrape. A key whose
    # last row is older — routine performance_schema eviction at the digest
    # cap, then reappearance — is a NEW key: the full cumulative value is the
    # delta (mysql/snapshot.go:159-239), exactly as the streaming SnapshotStore
    # fold treats it. An ungated lag would silently difference across the gap,
    # making batch and streaming disagree on sparse histories.
    deltas = deltas.withColumn("__prev_key_ts", F.lag(ts_col).over(w))
    consecutive = F.col("__prev_key_ts") == F.col("__prev_snap_ts")
    for m in metric_cols:
        deltas = deltas.withColumn(
            f"{m}_delta",
            _reset_aware_delta(F.col(m), F.when(consecutive, F.lag(m).over(w))),
        )
    # T2: the first snapshot of an instance emits nothing — exactly the rows
    # with no previous instance tick. The flag rides in on the broadcast
    # snap_meta join, so no extra instance-partitioned window pass is needed
    # (the old min-over-instance window was a full second WindowExec whose
    # partitions grow with digests-per-instance).
    deltas = deltas.filter(F.col("__prev_snap_ts").isNotNull())

    out_cols = (
        [F.col(instance_col), F.col(ts_col).alias("snapshot_ts")]
        + [F.col(k) for k in key_cols]
        + [F.col(c) for c in carry_cols]
        + [F.col(f"{m}_delta") for m in metric_cols]
    )
    out = deltas.select(*out_cols, F.col("time_period_seconds"))

    if activity_col is not None:
        out = out.filter(F.col(f"{activity_col}_delta") > 0)
    return out


def mysql_deltas(snapshots: DataFrame) -> DataFrame:
    """MySQL digest deltas (mysql/snapshot.go:159-239).

    Input: MYSQL_SNAPSHOT_SCHEMA rows. Activity gate: count_star_delta > 0
    (mysql/snapshot.go:207). Null-digest rows are dropped as at scrape time
    (mysql/collector.go:184-186, P2).
    """
    snaps = snapshots.filter(F.col("digest").isNotNull())
    return compute_deltas(
        snaps,
        key_cols=["digest"],
        metric_cols=list(schemas.MYSQL_METRIC_COLS),
        activity_col="count_star",
        carry_cols=["schema_name", "digest_text"],
    )


def pg_deltas(snapshots: DataFrame) -> DataFrame:
    """PostgreSQL statement deltas (postgresql/snapshot.go:183-279).

    Activity gate: calls_delta > 0 (postgresql/snapshot.go:235).
    """
    snaps = snapshots.filter(F.col("query_id").isNotNull())
    return compute_deltas(
        snaps,
        key_cols=["query_id"],
        metric_cols=list(schemas.PG_METRIC_COLS),
        activity_col="calls",
        carry_cols=["user_id", "db_id", "query"],
    )


def mysql_deltas_to_qan(deltas: DataFrame) -> DataFrame:
    """Shape MySQL delta rows into the wide qan_db schema — the Spark
    equivalent of deltaToLogs (mysql/collector.go:208-270)."""
    rename = {
        "count_star_delta": "calls_delta",
        "sum_timer_wait_delta": "total_timer_wait_delta",
        "sum_lock_time_delta": "lock_time_delta",
        "sum_errors_delta": "errors_delta",
        "sum_warnings_delta": "warnings_delta",
        "sum_rows_affected_delta": "rows_affected_delta",
        "sum_rows_sent_delta": "rows_sent_delta",
        "sum_rows_examined_delta": "rows_examined_delta",
        "sum_created_tmp_tables_delta": "created_tmp_tables_delta",
        "sum_created_tmp_disk_tables_delta": "created_tmp_disk_tables_delta",
        "sum_sort_rows_delta": "sort_rows_delta",
        "sum_no_index_used_delta": "no_index_used_delta",
        "sum_no_good_index_used_delta": "no_good_index_used_delta",
    }
    return _conform_to_qan(
        deltas,
        {
            "time": "snapshot_ts",
            "service_name": f"'{schemas.SERVICE_NAME}'",
            "db_system": "'mysql'",
            "instance_id": "instance_id",
            "statement_digest": "digest",
            "statement_sample": "digest_text",
            "db_schema": "schema_name",
            "time_period_seconds": "time_period_seconds",
            **{dst: src for src, dst in rename.items()},
        },
    )


def pg_deltas_to_qan(deltas: DataFrame) -> DataFrame:
    """Shape PG delta rows into qan_db (postgresql/collector.go:192-261).

    ``rows_examined_delta`` is aliased from ``rows_delta`` for cross-system
    compatibility (postgresql/collector.go:250-251).
    """
    metrics = [
        "calls_delta",
        "total_plan_time_delta",
        "total_exec_time_delta",
        "rows_delta",
        *[f"{c}_delta" for c in schemas.PG_LONG_METRIC_COLS if c.endswith(("_hit", "_read", "_dirtied", "_written"))],
        "blk_read_time_delta",
        "blk_write_time_delta",
    ]
    return _conform_to_qan(
        deltas,
        {
            "time": "snapshot_ts",
            "service_name": f"'{schemas.SERVICE_NAME}'",
            "db_system": "'postgresql'",
            "instance_id": "instance_id",
            "query_id": "query_id",
            "statement_sample": "query",
            "user_id": "user_id",
            "db_name_id": "db_id",
            "time_period_seconds": "time_period_seconds",
            "rows_examined_delta": "rows_delta",
            **{m: m for m in metrics},
        },
    )


def _conform_to_qan(df: DataFrame, sources: dict[str, str]) -> DataFrame:
    """One projection onto ``QAN_DB_SCHEMA``, in its column order: each
    qan_db column is its SQL source in ``sources`` cast to the column's
    type, or a typed NULL.  One ``selectExpr`` call, so a streaming
    micro-batch pays one analysis, not one py4j call per column."""
    return df.selectExpr(
        *[
            f"CAST({sources.get(f.name, 'NULL')} AS {f.dataType.simpleString()}) AS {f.name}"
            for f in schemas.QAN_DB_SCHEMA.fields
        ]
    )


def union_qan(mysql_qan: DataFrame, pg_qan: DataFrame) -> DataFrame:
    """The merged qan_db stream (both systems share one fact table)."""
    return mysql_qan.unionByName(pg_qan)
