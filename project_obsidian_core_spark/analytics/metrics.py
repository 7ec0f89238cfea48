"""metrics_db analytics (01-Connect_and_Metrics.ipynb; SURVEY A2/A5/A9/A10/J2).

The metrics_db table is long-format (time, instance, db_system, metric_name,
labels, value/max/min). The notebook queries are: distinct metric discovery
(cell-4), buffer-hit ratio via per-minute conditional aggregation (cell-8 —
a pivot-join of blocks_hit against blocks_read), and 5-minute AVG series per
metric (cell-10).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from project_obsidian_core_spark.analytics.sql import aggregate, in_list, in_order, quote, time_range


def distinct_metrics(metrics: DataFrame) -> DataFrame:
    """A10: SELECT DISTINCT metric_name, db_system ORDER BY 1."""
    return metrics.select("metric_name", "db_system").distinct().orderBy(
        "metric_name", "db_system"
    )


def metric_series(
    metrics: DataFrame,
    metric_names: list[str],
    bucket: str = "5 minutes",
    start: datetime | str | None = None,
    end: datetime | str | None = None,
) -> DataFrame:
    """A9: AVG(metric_value) per bucket per metric name
    (01-Connect_and_Metrics.ipynb cell-10), ordered by (bucket, name).

    The result has one row per bucket of the range per named metric —
    what the dashboard collects — so it is finished in one partition
    (one shuffle, no sampling job).
    """
    agg = aggregate(
        metrics,
        [in_list("metric_name", metric_names), *time_range(metrics.columns, start, end)],
        [f"window(time, {quote(bucket)}).start AS time_bucket", "metric_name"],
        ["avg(metric_value) AS avg_value"],
    )
    return in_order(agg, "time_bucket", "metric_name")


def buffer_hit_ratio(
    metrics: DataFrame,
    hit_metric: str = "postgresql.blocks_hit",
    read_metric: str = "postgresql.blocks_read",
    bucket: str = "1 minute",
    start: datetime | str | None = None,
    end: datetime | str | None = None,
) -> DataFrame:
    """J2+A5: per-(bucket, instance) buffer cache hit ratio
    hit/(hit+read), aligned via conditional aggregation — the reference's
    pivot-join (01-Connect_and_Metrics.ipynb cell-8) — ordered by
    (bucket, instance).

    A single shuffle: the conditional sums compute both series in one
    aggregate rather than self-joining the long table.  The result has
    one row per bucket of the range per instance — what the dashboard
    collects — so it is finished in one partition.
    """
    hit, read = (
        f"sum(CASE WHEN metric_name = {quote(m)} THEN metric_value END)" for m in (hit_metric, read_metric)
    )
    # functions.units.ratio_of_sums over the NULL-as-0 sums, as an
    # aggregate expression (each sum is still computed once)
    h, r = f"coalesce({hit}, 0.0D)", f"coalesce({read}, 0.0D)"
    agg = aggregate(
        metrics,
        [in_list("metric_name", [hit_metric, read_metric]), *time_range(metrics.columns, start, end)],
        [f"window(time, {quote(bucket)}).start AS time_bucket", "instance_id"],
        [
            f"{hit} AS blocks_hit",
            f"{read} AS blocks_read",
            f"CASE WHEN {h} + {r} > 0 THEN {h} / ({h} + {r}) ELSE 0.0D END AS hit_ratio",
        ],
    )
    return in_order(agg, "time_bucket", "instance_id")


def gap_fill_minutes(metrics: DataFrame, step_us: int = 60_000_000) -> DataFrame:
    """Carry-forward gap filling on a minute grid per (instance, metric)
    series — the `avg_over_time`-adjacent interpolation a monitoring store
    applies before rendering sparse series (scrape gaps, governor backoff
    stretches: SURVEY §2.9 T7/T8 make sampling intervals drift by design).

    Per series: samples collapse to one value per minute (latest sample
    wins, deterministic time/value tiebreak), the full [min, max] minute
    range is generated with ``sequence`` (grid size is span-bounded —
    independent of sample count), and missing minutes take the most recent
    earlier value via ``last(ignorenulls)`` over an ordered window.
    ``is_filled`` marks interpolated rows — derived from the grid-join
    MISS (a presence flag), not from value nullness, so a genuine sample
    whose value is NULL keeps ``is_filled=false`` and its NULL value
    (carry-forward applies only to absent minutes; later gaps carry the
    last non-null value past it).

    Scale: one shuffle to the per-minute reduction, one per-series window
    — the same partitioning, so the window reuses the exchange. The grid
    explode is |series| × span/step rows of 4 small columns; value columns
    stay exact ints.
    """
    from pyspark.sql import Window

    minute = (F.unix_micros(F.col("time")) - F.unix_micros(F.col("time")) % step_us).alias(
        "minute_us"
    )
    w_pick = Window.partitionBy("instance_id", "metric_name", "minute_us").orderBy(
        F.desc(F.unix_micros(F.col("time"))), F.desc("metric_value")
    )
    per_min = (
        metrics.select("instance_id", "metric_name", "time", "metric_value", minute)
        .withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select(
            "instance_id",
            "metric_name",
            "minute_us",
            "metric_value",
            F.lit(True).alias("_present"),
        )
    )
    grid = (
        per_min.groupBy("instance_id", "metric_name")
        .agg(F.min("minute_us").alias("_mn"), F.max("minute_us").alias("_mx"))
        .select(
            "instance_id",
            "metric_name",
            F.explode(
                F.sequence(F.col("_mn"), F.col("_mx"), F.lit(step_us))
            ).alias("minute_us"),
        )
    )
    w_fill = (
        Window.partitionBy("instance_id", "metric_name")
        .orderBy("minute_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per_min, ["instance_id", "metric_name", "minute_us"], "left")
        .select(
            "instance_id",
            "metric_name",
            "minute_us",
            # a PRESENT minute keeps its own value (even NULL); only grid
            # misses take the carry-forward
            F.when(
                F.col("_present").isNotNull(), F.col("metric_value")
            )
            .otherwise(
                F.last("metric_value", ignorenulls=True).over(w_fill)
            )
            .alias("value"),
            F.col("_present").isNull().alias("is_filled"),
        )
    )


def gap_fill_minutes_presplit(
    metrics: DataFrame,
    step_us: int = 60_000_000,
    split_us: int = 86_400_000_000,
) -> DataFrame:
    """Scale twin of :func:`gap_fill_minutes` with per-(series, period)
    windows — the escape hatch for series whose span/step is too large
    for one window partition (a multi-year 1-min series is ~10⁶ grid rows;
    fine at one task today, but unbounded in principle — SCALE.md r6/r7).

    Identical output, different partitioning (the sessionize_presplit /
    TWA-presplit pattern):

    1. Per-minute reduction as in the plain version.
    2. A per-(series, period) summary — LAST non-null sample value in each
       period (``max_by``) — feeds a tiny per-series window over PERIODS
       (≤ span/split rows per series) that computes each period's
       carry-IN value from earlier periods.
    3. The grid explodes per (series, period) — bounded by split/step rows
       per partition (1440 for day periods at 1-min step) — and the
       intra-period carry window runs per (series, period).
    4. A grid miss takes the intra-period carry, falling back to the
       period's carry-in; boundary stitching reproduces the plain
       unbounded window exactly (equivalence pinned by test).

    ``split_us`` must be a multiple of ``step_us`` so period boundaries
    land on grid points.
    """
    from pyspark.sql import Window

    if split_us % step_us:
        raise ValueError("split_us must be a multiple of step_us")

    series = ["instance_id", "metric_name"]
    minute = (
        F.unix_micros(F.col("time")) - F.unix_micros(F.col("time")) % step_us
    ).alias("minute_us")
    w_pick = Window.partitionBy(*series, "minute_us").orderBy(
        F.desc(F.unix_micros(F.col("time"))), F.desc("metric_value")
    )
    per_min = (
        metrics.select(*series, "time", "metric_value", minute)
        .withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select(
            *series,
            "minute_us",
            "metric_value",
            F.lit(True).alias("_present"),
            (F.col("minute_us") - F.col("minute_us") % split_us).alias(
                "_period"
            ),
        )
    )

    # per-(series, period) last non-null sample -> per-period carry-in via
    # a window over PERIODS (tiny: span/split rows per series)
    period_last = (
        per_min.filter(F.col("metric_value").isNotNull())
        .groupBy(*series, "_period")
        .agg(F.max_by("metric_value", "minute_us").alias("_period_last"))
    )
    bounds = per_min.groupBy(*series).agg(
        F.min("minute_us").alias("_mn"), F.max("minute_us").alias("_mx")
    )
    periods = bounds.select(
        *series,
        "_mn",
        "_mx",
        F.explode(
            F.sequence(
                F.col("_mn") - F.col("_mn") % split_us,
                F.col("_mx") - F.col("_mx") % split_us,
                F.lit(split_us),
            )
        ).alias("_period"),
    )
    w_carry = (
        Window.partitionBy(*series)
        .orderBy("_period")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    periods = periods.join(period_last, [*series, "_period"], "left").select(
        *series,
        "_period",
        "_mn",
        "_mx",
        F.last("_period_last", ignorenulls=True).over(w_carry).alias(
            "_carry_in"
        ),
    )

    # per-period grid: <= split/step rows per (series, period) partition
    grid = periods.select(
        *series,
        "_period",
        "_carry_in",
        F.explode(
            F.sequence(
                F.greatest(F.col("_period"), F.col("_mn")),
                F.least(
                    F.col("_period") + F.lit(split_us - step_us), F.col("_mx")
                ),
                F.lit(step_us),
            )
        ).alias("minute_us"),
    )
    w_intra = (
        Window.partitionBy(*series, "_period")
        .orderBy("minute_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(
            per_min.drop("_period"), [*series, "minute_us"], "left"
        )
        .select(
            *series,
            "minute_us",
            F.when(F.col("_present").isNotNull(), F.col("metric_value"))
            .otherwise(
                F.coalesce(
                    F.last("metric_value", ignorenulls=True).over(w_intra),
                    F.col("_carry_in"),
                )
            )
            .alias("value"),
            F.col("_present").isNull().alias("is_filled"),
        )
    )


def ohlc(
    metrics: DataFrame,
    bucket_s: int = 300,
) -> DataFrame:
    """OHLC (open/high/low/close) candle downsampling per metric series —
    the Timescale `first()/last()`-style resample every metrics store
    offers (Druid exposes it as first/last aggregators) re-expressed as
    ONE Spark partitioning.

    open/close are the earliest/latest sample's value within each
    ``bucket_s``-second bucket; ties on timestamp break deterministically
    by value (row_number ordered by (time, value)), so the result is
    engine-independent even on duplicate-timestamp data. Both row_number
    windows share one (metric, bucket) hash partitioning with the final
    aggregate: the whole candle build costs a single exchange, which is
    the minimum for a keyed resample. At 100 TB the input stays bucketed
    by series key, the windows never see more than one series-bucket per
    sort run, and the output is ~n_series x n_buckets rows — the classic
    1000x raw->candle reduction paid with one shuffle.
    """
    from pyspark.sql.window import Window

    # integer division on the µs epoch — a double-divide here can round
    # across the bucket boundary for large epochs
    bucket = (
        F.expr(f"unix_micros(time) div {bucket_s * 1_000_000}")
        * F.lit(bucket_s)
    ).alias("bucket_epoch_s")
    rows = metrics.select(
        bucket, "metric_name", "time", F.col("metric_value").alias("v")
    )
    w = Window.partitionBy("metric_name", "bucket_epoch_s")
    asc = w.orderBy(F.col("time").asc(), F.col("v").asc())
    desc = w.orderBy(F.col("time").desc(), F.col("v").desc())
    return (
        rows.withColumn("rn_a", F.row_number().over(asc))
        .withColumn("rn_d", F.row_number().over(desc))
        .groupBy("metric_name", "bucket_epoch_s")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("v"))).alias("open"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("v"))).alias("close"),
            F.sum("v").alias("volume"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
