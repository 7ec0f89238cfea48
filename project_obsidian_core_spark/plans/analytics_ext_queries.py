"""Analytics-surface extensions beyond the notebook parity set: exact
quantiles, new-digest detection (anti-join), moving averages, grouping-set
rollups, and value histograms — the dashboard shapes a QAN user reaches for
next, each as one more oracle-gated operator family.

Determinism notes (plans/common.py rules apply):
- Quantiles: Spark `percentile` and DuckDB `quantile_cont` implement the
  same (n-1)·p linear interpolation over sorted exact integers; verified
  bit-equal at sf0.01 before registration.
- Moving averages divide an exact integer window sum by its exact window
  count — one double division, never a windowed double sum.
- Grouping sets coalesce their null super-aggregate keys to a sentinel so
  both engines hash identical key columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_obsidian_core_spark.plans.common import cents, load

#: epoch-µs cutoff splitting the "known digests" baseline period from the
#: detection period (2024-01-08 00:00 UTC)
_CUTOFF_US = 1704672000000000


# ---------------------------------------------------------- quantiles -----
def qan_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family: exact p50/p95/p99 per digest (Druid APPROX_QUANTILE's
    exact twin; at 100 TB swap `percentile` for `percentile_approx` — the
    t-digest sketch merges map-side like the HLL scale path)."""
    ev = load(spark, sf_dir, "events")
    q = F.expr("percentile(c, array(0.5, 0.95, 0.99))")
    return (
        ev.select("event_type", cents("value").alias("c"))
        .groupBy("event_type")
        .agg(q.alias("q"), F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.element_at("q", 1).alias("p50"),
            F.element_at("q", 2).alias("p95"),
            F.element_at("q", 3).alias("p99"),
            "n",
        )
        .orderBy("event_type")
    )


ORACLE_qan_latency_quantiles = """
WITH t AS (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
)
SELECT event_type,
       quantile_cont(c, 0.5)  AS p50,
       quantile_cont(c, 0.95) AS p95,
       quantile_cont(c, 0.99) AS p99,
       count(*) AS n
FROM t
GROUP BY event_type
ORDER BY event_type
"""


def qan_latency_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch twin of :func:`qan_latency_quantiles` — the plan you run
    at 100 TB: ``approx_percentile`` builds a bounded-memory quantile
    summary that merges MAP-SIDE (partial aggregation before the
    exchange), where exact ``percentile`` buffers every value through the
    shuffle. Not oracle-gated (engine-specific sketch); accuracy is pinned
    against the exact result in unit tests (same pattern as
    qan_unique_queries_hll)."""
    ev = load(spark, sf_dir, "events")
    q = F.expr("approx_percentile(c, array(0.5, 0.95, 0.99), 10000)")
    return (
        ev.select("event_type", cents("value").alias("c"))
        .groupBy("event_type")
        .agg(q.alias("q"), F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.element_at("q", 1).alias("p50"),
            F.element_at("q", 2).alias("p95"),
            F.element_at("q", 3).alias("p99"),
            "n",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------- new-digest anti -----
def qan_new_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-family extension: left ANTI join — (instance, digest) pairs first
    observed in the detection period, i.e. absent from the baseline period.
    The QAN "new query appeared" alert. Both sides reduce to distinct keys
    before the join, so the anti join shuffles keys, not facts."""
    ev = load(spark, sf_dir, "events")
    us = F.expr("unix_micros(ts)")
    keyed = ev.select(
        F.col("user_id").alias("instance_id"),
        F.col("event_type").alias("digest"),
        us.alias("ts_us"),
    )
    base = keyed.filter(F.col("ts_us") < _CUTOFF_US).select("instance_id", "digest").distinct()
    det = keyed.filter(F.col("ts_us") >= _CUTOFF_US)
    new_keys = det.select("instance_id", "digest").distinct().join(
        base, ["instance_id", "digest"], "left_anti"
    )
    return (
        det.join(new_keys, ["instance_id", "digest"])
        .groupBy("instance_id", "digest")
        .agg(F.min("ts_us").alias("first_seen_us"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("instance_id", "digest")
    )


ORACLE_qan_new_digests = f"""
WITH keyed AS (
    SELECT user_id AS instance_id, event_type AS digest, epoch_us(ts) AS ts_us
    FROM events
),
det AS (SELECT * FROM keyed WHERE ts_us >= {_CUTOFF_US})
SELECT instance_id, digest,
       min(ts_us) AS first_seen_us,
       count(*) AS n_events
FROM det d
WHERE NOT EXISTS (
    SELECT 1 FROM keyed b
    WHERE b.ts_us < {_CUTOFF_US}
      AND b.instance_id = d.instance_id AND b.digest = d.digest
)
GROUP BY instance_id, digest
ORDER BY instance_id, digest
"""


# ------------------------------------------------------- moving avg -------
def qan_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family extension: 3-bucket moving average of 5-minute call counts
    per digest — trend smoothing over the qan_trend series. The window
    frame runs over the *aggregated* relation (≤ buckets×digests rows), so
    the sort is per-digest and tiny."""
    ev = load(spark, sf_dir, "events")
    # integer div, not double: a double quotient can round across a bucket
    # boundary for large epochs
    bucket = F.expr("unix_micros(ts) div 300000000") * 300
    agg = ev.groupBy(
        F.col("event_type").alias("digest"), bucket.alias("bucket_epoch_s")
    ).agg(F.count(F.lit(1)).alias("calls"))
    w = (
        Window.partitionBy("digest")
        .orderBy("bucket_epoch_s")
        .rowsBetween(-2, 0)
    )
    return agg.select(
        "digest",
        "bucket_epoch_s",
        "calls",
        (
            F.sum("calls").over(w).cast("double") / F.count(F.lit(1)).over(w)
        ).alias("calls_ma3"),
    ).orderBy("digest", "bucket_epoch_s")


ORACLE_qan_moving_avg = """
WITH agg AS (
    SELECT event_type AS digest,
           (epoch_us(ts) // 300000000) * 300 AS bucket_epoch_s,
           count(*) AS calls
    FROM events
    GROUP BY 1, 2
)
SELECT digest, bucket_epoch_s, calls,
       CAST(sum(calls) OVER w AS DOUBLE) / count(*) OVER w AS calls_ma3
FROM agg
WINDOW w AS (PARTITION BY digest ORDER BY bucket_epoch_s
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY digest, bucket_epoch_s
"""


# ----------------------------------------------------- grouping sets ------
def qan_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family extension: one pass producing (system, digest), (system),
    and grand-total aggregates — Spark `rollup`, the map-side-combinable
    form of three separate groupBys."""
    ev = load(spark, sf_dir, "events")
    sys_col = F.when(F.col("user_id") % 2 == 0, F.lit("mysql")).otherwise(
        F.lit("postgresql")
    )
    base = ev.select(
        sys_col.alias("db_system"),
        F.col("event_type").alias("digest"),
        cents("value").alias("vc"),
    )
    out = base.rollup("db_system", "digest").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("vc").alias("total_value_cents"),
    )
    return out.select(
        F.coalesce("db_system", F.lit("(all)")).alias("db_system"),
        F.coalesce("digest", F.lit("(all)")).alias("digest"),
        "n_events",
        "total_value_cents",
    ).orderBy("db_system", "digest")


ORACLE_qan_grouping_sets = """
WITH base AS (
    SELECT CASE WHEN user_id % 2 = 0 THEN 'mysql' ELSE 'postgresql' END AS db_system,
           event_type AS digest,
           CAST(round(value * 100, 0) AS BIGINT) AS vc
    FROM events
)
SELECT COALESCE(db_system, '(all)') AS db_system,
       COALESCE(digest, '(all)') AS digest,
       count(*) AS n_events,
       CAST(sum(vc) AS BIGINT) AS total_value_cents
FROM base
GROUP BY ROLLUP (db_system, digest)
ORDER BY db_system, digest
"""


# --------------------------------------------------------- histogram ------
def qan_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family extension: fixed-width value histogram per digest
    (width_bucket over exact cents) — the latency-distribution panel."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.col("event_type").alias("digest"),
            F.expr("CAST(round(value * 100, 0) AS BIGINT) div 2500").alias("bucket"),
        )
        .groupBy("digest", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("digest", "bucket")
    )


ORACLE_qan_value_histogram = """
SELECT event_type AS digest,
       CAST(round(value * 100, 0) AS BIGINT) // 2500 AS bucket,
       count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY digest, bucket
"""


# ------------------------------------------------------ ntile buckets -----
def corpus_length_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family extension: per-language length deciles via NTILE — the
    bucketing a curriculum/length-balanced sampler reads. Partitioned by
    ``lang`` so the window parallelizes per language (the global-window
    single-task trap does not apply; see VERDICT r1 item 4)."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.select(
            "lang",
            F.ntile(10).over(w).alias("decile"),
            "n_chars",
        )
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "decile")
    )


ORACLE_corpus_length_ntile = """
WITH d AS (
    SELECT lang, n_chars,
           ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
    FROM documents
)
SELECT lang, CAST(decile AS INT) AS decile, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM d
GROUP BY 1, 2
ORDER BY lang, decile
"""


# --------------------------------------------------- anomaly z-score ------
def qan_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family extension: per-digest anomaly flags — each hourly value
    z-scored against its own trailing 12-bucket baseline (frame excludes
    the current row, as an alerting baseline must).

    Cross-engine determinism: mean/std are DERIVED from exact integer
    window sums (n, S, S2) converted to double once — every intermediate
    is < 2^53 so the doubles are exact and the z expression (identical
    association order in the oracle) is bit-reproducible. A naive
    stddev_samp() over doubles would be partial-aggregation-order
    dependent and could never hash-match.
    """
    ev = load(spark, sf_dir, "events")
    bucket = F.expr("unix_micros(ts) div 3600000000") * 3600
    agg = ev.groupBy(
        F.col("event_type").alias("digest"), bucket.alias("bucket_epoch_s")
    ).agg(F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)")).alias("cents"))
    w = Window.partitionBy("digest").orderBy("bucket_epoch_s").rowsBetween(-12, -1)
    n = F.count(F.lit(1)).over(w)
    s = F.sum("cents").over(w)
    s2 = F.sum(F.col("cents") * F.col("cents")).over(w)
    x = F.col("cents").cast("double")
    nn, ss, ss2 = n.cast("double"), s.cast("double"), s2.cast("double")
    var = (ss2 - ss * ss / nn) / (nn - F.lit(1.0))
    z = F.when(
        (n >= 4) & (var > 0), (x - ss / nn) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return (
        agg.select(
            "digest",
            "bucket_epoch_s",
            "cents",
            z.alias("zscore"),
            (F.abs(z) > 3.0).alias("anomalous"),
        )
        .orderBy("digest", "bucket_epoch_s")
    )


ORACLE_qan_anomaly_zscore = """
WITH agg AS (
    SELECT event_type AS digest,
           (epoch_us(ts) // 3600000000) * 3600 AS bucket_epoch_s,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY 1, 2
), stats AS (
    SELECT digest, bucket_epoch_s, cents,
           CAST(count(*) OVER w AS DOUBLE) AS nn,
           CAST(CAST(sum(cents) OVER w AS BIGINT) AS DOUBLE) AS ss,
           CAST(CAST(sum(cents * cents) OVER w AS BIGINT) AS DOUBLE) AS ss2,
           count(*) OVER w AS n
    FROM agg
    WINDOW w AS (PARTITION BY digest ORDER BY bucket_epoch_s
                 ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
)
SELECT digest, bucket_epoch_s, cents,
       CASE WHEN n >= 4 AND (ss2 - ss * ss / nn) / (nn - 1.0) > 0
            THEN (CAST(cents AS DOUBLE) - ss / nn)
                 / sqrt((ss2 - ss * ss / nn) / (nn - 1.0))
            ELSE 0.0 END AS zscore,
       abs(CASE WHEN n >= 4 AND (ss2 - ss * ss / nn) / (nn - 1.0) > 0
            THEN (CAST(cents AS DOUBLE) - ss / nn)
                 / sqrt((ss2 - ss * ss / nn) / (nn - 1.0))
            ELSE 0.0 END) > 3.0 AS anomalous
FROM stats
ORDER BY digest, bucket_epoch_s
"""


# ------------------------------------------------- rank-distribution stats --
def qan_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of per-type call volume — the "where does
    this query sit in the workload distribution" view. Ratios are exact
    small-integer divisions ((rank-1)/(n-1), k/n), bit-identical in IEEE
    across engines."""
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("total_calls"))
    w = Window.orderBy(F.asc("total_calls"), F.asc("event_type"))
    return agg.select(
        "event_type",
        F.col("total_calls").cast("long").alias("total_calls"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    ).orderBy("event_type")


ORACLE_qan_percent_rank = """
WITH agg AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS total_calls
    FROM events GROUP BY event_type
)
SELECT event_type, total_calls,
       percent_rank() OVER (ORDER BY total_calls, event_type) AS pct_rank,
       cume_dist() OVER (ORDER BY total_calls, event_type) AS cume_dist
FROM agg ORDER BY event_type
"""


# --------------------------------------------------- JSON property parsing --
def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events.props JSON column and histogram its 'k' property
    into deciles — semi-structured payload analytics (get_json_object /
    json_extract) with pure-integer bucketing."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select((k - k % 10).alias("k_bucket"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .orderBy("k_bucket")
    )


ORACLE_events_props_stats = """
WITH k AS (
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv FROM events
)
SELECT kv - kv % 10 AS k_bucket, CAST(count(*) AS BIGINT) AS n_events
FROM k GROUP BY k_bucket
ORDER BY k_bucket
"""


# ---------------------------------------------------- week-over-week movers --
def qan_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period volume change per event type (first half of the
    observed range vs second half): the "what regressed since last week"
    QAN triage view. Change is exact int arithmetic; pct_x100 is an
    integer-truncated percentage (DuckDB // ≡ Spark div)."""
    ev = load(spark, sf_dir, "events")
    # integer-truncated midpoint (div, not /): DuckDB's // truncates, and a
    # half-second mid could classify a boundary event differently
    mid = ev.agg(
        F.timestamp_seconds(
            F.expr(
                "(unix_seconds(min(ts)) + unix_seconds(max(ts))) div 2"
            ).cast("long")
        ).alias("mid")
    )
    halves = ev.crossJoin(F.broadcast(mid)).select(
        "event_type",
        F.when(F.col("ts") < F.col("mid"), F.lit(0)).otherwise(F.lit(1)).alias("h"),
        cents("value").alias("cents"),
    )
    agg = halves.groupBy("event_type").agg(
        F.sum(F.when(F.col("h") == 0, F.col("cents")).otherwise(0)).alias("prev_cents"),
        F.sum(F.when(F.col("h") == 1, F.col("cents")).otherwise(0)).alias("curr_cents"),
    )
    delta = F.col("curr_cents") - F.col("prev_cents")
    return agg.select(
        "event_type",
        F.col("prev_cents").cast("long").alias("prev_cents"),
        F.col("curr_cents").cast("long").alias("curr_cents"),
        delta.cast("long").alias("delta_cents"),
        F.when(F.col("prev_cents") != 0, F.expr(
            "(curr_cents * 100 - (curr_cents * 100) % prev_cents) div prev_cents"
        )).alias("pct_x100"),
    ).orderBy(F.desc("delta_cents"), F.asc("event_type"))


ORACLE_qan_top_movers = """
WITH mid AS (
    SELECT to_timestamp((epoch(min(ts)) + epoch(max(ts))) // 2) AS mid FROM events
), halves AS (
    SELECT event_type,
           CASE WHEN ts < mid THEN 0 ELSE 1 END AS h,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events CROSS JOIN mid
), agg AS (
    SELECT event_type,
           CAST(sum(CASE WHEN h = 0 THEN cents ELSE 0 END) AS BIGINT) AS prev_cents,
           CAST(sum(CASE WHEN h = 1 THEN cents ELSE 0 END) AS BIGINT) AS curr_cents
    FROM halves GROUP BY event_type
)
SELECT event_type, prev_cents, curr_cents,
       curr_cents - prev_cents AS delta_cents,
       CASE WHEN prev_cents != 0
            THEN (curr_cents * 100 - (curr_cents * 100) % prev_cents) // prev_cents
            END AS pct_x100
FROM agg
ORDER BY delta_cents DESC, event_type
"""


# ------------------------------------------------- event-sequence bigrams --
def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 2-step event-type transitions per user history (ordered
    by ts, tie-broken by event_id): the path-mining primitive behind
    "what do users do after X" analyses. One lag window on the user key,
    one count aggregation."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    return (
        steps.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
        .orderBy(F.desc("n_transitions"), F.asc("from_type"), F.asc("to_type"))
    )


ORACLE_events_user_paths = """
WITH steps AS (
    SELECT user_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS from_type,
           event_type AS to_type
    FROM events
)
SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
FROM steps WHERE from_type IS NOT NULL
GROUP BY from_type, to_type
ORDER BY n_transitions DESC, from_type, to_type
"""


# ------------------------------------------------------- sliding windows --
def events_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window engagement: distinct active users and event counts per
    1-hour window sliding every 15 minutes.

    Spark's window(slide) assigns each event to hour/slide = 4 windows
    (epoch-aligned starts) — a constant fan-out explode, then one
    hash-aggregate shuffle keyed on (window, user) for the exact distinct.
    This is the A-family's only *overlapping* window aggregation (tumbling
    rollups elsewhere); the same expression runs unchanged as a watermarked
    streaming aggregation.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            "active_users",
            "n_events",
        )
        .orderBy("win_start_us")
    )


ORACLE_events_sliding_active_users = """
WITH e AS (
    SELECT epoch_us(ts) AS us, user_id FROM events
), assigned AS (
    SELECT (us - (us % 900000000)) - k.k * 900000000 AS win_start_us, user_id
    FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
)
SELECT win_start_us,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
       count(*) AS n_events
FROM assigned
GROUP BY win_start_us
ORDER BY win_start_us
"""


def events_sliding_active_users_salted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Skew-guarded twin of :func:`events_sliding_active_users` — identical
    output, checked against the SAME oracle.

    The plain two-level distinct groups on (window, user_id) first; one
    hot user at 100 TB concentrates its 4x window fan-out on a single
    reducer. This variant applies the functions/skew.py salted-partial
    pattern to that first level: phase 1 groups on (window, user_id, salt)
    — the hot pair's rows spread over SALT_BUCKETS reducers — phase 2
    merges the per-salt partial counts, and the final per-window distinct
    is unchanged (row count of the merged pairs). The salt is a
    deterministic row hash, so placement changes but no result does.
    """
    salt_buckets = 16
    ev = load(spark, sf_dir, "events")
    pairs = (
        ev.withColumn(
            "__salt", F.pmod(F.xxhash64("ts", "event_id"), F.lit(salt_buckets))
        )
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("window"),
            "user_id",
            "__salt",
        )
        .agg(F.count(F.lit(1)).alias("__pn"))
        .groupBy("window", "user_id")
        .agg(F.sum("__pn").alias("n_events"))
    )
    return (
        pairs.groupBy("window")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            "active_users",
            "n_events",
        )
        .orderBy("win_start_us")
    )


# ------------------------------------------------- interval concurrency ----
def events_interval_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency (operators.intervals): each event
    opens an interval of ``floor(value)+1`` minutes; per event type, how
    many were ever active at once. The capacity question behind
    connection-pool sizing — answered with one key-shuffle window, not
    per-second gauge sampling.

    Determinism: +1/-1 deltas are exact ints; the ``(t, delta)`` ordering
    (ends before starts at the same instant = end-exclusive) and the
    default RANGE frame give every peer row the same cumulative value in
    both engines; ``floor()`` before the int cast avoids DuckDB's
    round-on-cast."""
    from project_obsidian_core_spark.operators.intervals import interval_peaks

    ev = (
        load(spark, sf_dir, "events")
        .withColumn("dur_min", (F.floor("value") + 1).cast("int"))
        .select(
            "event_type",
            F.col("ts").alias("start_ts"),
            F.expr("ts + make_interval(0, 0, 0, 0, 0, dur_min, 0)").alias(
                "end_ts"
            ),
        )
    )
    return interval_peaks(
        ev, ["event_type"], "start_ts", "end_ts"
    ).orderBy("event_type")


ORACLE_events_interval_peak = """
WITH iv AS (
    SELECT event_type, ts AS t0,
           ts + to_minutes(CAST(floor(value) + 1 AS BIGINT)) AS t1
    FROM events
), pts AS (
    SELECT event_type, t0 AS t, 1 AS delta FROM iv
    UNION ALL
    SELECT event_type, t1 AS t, -1 AS delta FROM iv
), prof AS (
    SELECT event_type,
           sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta)
               AS concurrent
    FROM pts
)
SELECT event_type,
       count(*) // 2 AS n_intervals,
       CAST(max(concurrent) AS BIGINT) AS peak_concurrent
FROM prof
GROUP BY event_type
ORDER BY event_type
"""


# ------------------------------------------------- robust MAD anomalies ----
def qan_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD anomaly flags — the robust sibling of qan_anomaly_zscore:
    a digest's hourly totals are scored against its own median absolute
    deviation, so a handful of true spikes can't inflate the baseline the
    way they inflate a mean/stddev one (the masking problem z-scores have).

    Cross-engine determinism: hourly totals are exact integer cents, so
    the interpolated median lands on .0/.5 doubles (exact dyadics), the
    absolute deviations on .0/.5, and the MAD on .0/.25 — every quantity
    and the ``dev > 3·MAD`` compare is bit-identical in Spark
    (``percentile``) and DuckDB (``quantile_cont``), which implement the
    same (n-1)·p linear interpolation.

    Plan shape: both percentile passes run as WINDOW aggregates over the
    same ``digest`` partitioning — one events scan and two exchanges
    total (hourly agg key, then digest), where the groupBy+join-back
    formulation re-scanned the fact table per statistic. The window
    partitions carry one row per (digest, hour) — bounded by the rollup
    grain, never the event count, so per-partition state stays small at
    any corpus size."""
    ev = load(spark, sf_dir, "events")
    bucket = F.expr("unix_micros(ts) div 3600000000") * 3600
    agg = ev.groupBy(
        F.col("event_type").alias("digest"), bucket.alias("bucket_epoch_s")
    ).agg(F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)")).alias("cents"))
    w = Window.partitionBy("digest")
    dev = agg.withColumn(
        "med", F.expr("percentile(cents, 0.5)").over(w)
    ).withColumn("dev", F.abs(F.col("cents").cast("double") - F.col("med")))
    out = dev.withColumn("mad", F.expr("percentile(dev, 0.5)").over(w))
    anomalous = ((F.col("mad") > 0) & (F.col("dev") > 3 * F.col("mad"))) | (
        (F.col("mad") == 0) & (F.col("dev") > 0)
    )
    return out.select(
        "digest",
        "bucket_epoch_s",
        "cents",
        "med",
        "mad",
        anomalous.alias("anomalous"),
    ).orderBy("digest", "bucket_epoch_s")


ORACLE_qan_anomaly_mad = """
WITH agg AS (
    SELECT event_type AS digest,
           (epoch_us(ts) // 3600000000) * 3600 AS bucket_epoch_s,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY 1, 2
), dev AS (
    SELECT digest, bucket_epoch_s, cents,
           quantile_cont(cents, 0.5) OVER (PARTITION BY digest) AS med,
           abs(CAST(cents AS DOUBLE)
               - quantile_cont(cents, 0.5) OVER (PARTITION BY digest)) AS dev
    FROM agg
), scored AS (
    SELECT digest, bucket_epoch_s, cents, med, dev,
           quantile_cont(dev, 0.5) OVER (PARTITION BY digest) AS mad
    FROM dev
)
SELECT digest, bucket_epoch_s, cents, med, mad,
       (mad > 0 AND dev > 3 * mad) OR (mad = 0 AND dev > 0) AS anomalous
FROM scored
ORDER BY digest, bucket_epoch_s
"""


# ----------------------------------------------- exact heavy hitters ------
#: φ = 1/100: a key is reported iff it holds strictly more than 1% of rows.
_HH_NUM, _HH_DEN = 1, 100


def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass exact φ-heavy hitters
    (:mod:`analytics.heavy_hitters`) over a deliberately skew-shaped key:
    2/3 of events collapse onto 5 hot keys, the rest are unique cold keys
    — the head/long-tail shape of URL / token / user-id streams.

    The sketch pass prunes the key space (per-Arrow-batch φ-heavy
    candidates, pigeonhole-complete), the verify pass recounts exactly;
    the oracle is the direct group-by-everything formulation, so a green
    row proves the pruned plan is bit-identical to the naive one — while
    shuffling candidate keys only, which is what survives a 100 TB key
    space where one-row-per-distinct-key is itself corpus-sized."""
    from fractions import Fraction

    from project_obsidian_core_spark.analytics import heavy_hitters as HH

    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(
            F.col("event_id") % 3 != 0,
            F.concat(F.lit("hot_"), (F.col("user_id") % 5).cast("string")),
        )
        .otherwise(F.concat(F.lit("cold_"), F.col("event_id").cast("string")))
        .alias("key")
    )
    return HH.heavy_hitters(
        keyed, key="key", phi=Fraction(_HH_NUM, _HH_DEN)
    ).orderBy(F.col("cnt").desc(), "key")


ORACLE_events_heavy_hitters = f"""
WITH keyed AS (
    SELECT CASE WHEN event_id % 3 != 0
                THEN 'hot_' || CAST(user_id % 5 AS VARCHAR)
                ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
    FROM events
), tot AS (
    SELECT count(*) AS n_rows FROM keyed
)
SELECT k.key, CAST(count(*) AS BIGINT) AS cnt, t.n_rows,
       CAST(count(*) * 1000000 // t.n_rows AS BIGINT) AS share_ppm
FROM keyed k CROSS JOIN tot t
GROUP BY k.key, t.n_rows
HAVING count(*) * {_HH_DEN} > t.n_rows * {_HH_NUM}
ORDER BY cnt DESC, key
"""


# --------------------------------------------------- interval coalescing --
def events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29: per-type interval coalescing (operators.intervals.interval_merge)
    over the same synthesized intervals as ``events_interval_peak`` —
    maximal merged spans ("islands") with bounds, member counts and exact
    µs coverage. Concurrency asks how deep overlap goes; this asks how
    wide the cover is. One key shuffle for both windows AND the island
    aggregate (grouping extends the partition key — no second exchange)."""
    from project_obsidian_core_spark.operators.intervals import interval_merge

    ev = (
        load(spark, sf_dir, "events")
        .withColumn("dur_min", (F.floor("value") + 1).cast("int"))
        .select(
            "event_type",
            F.col("ts").alias("start_ts"),
            F.expr("ts + make_interval(0, 0, 0, 0, 0, dur_min, 0)").alias(
                "end_ts"
            ),
        )
    )
    return interval_merge(ev, ["event_type"], "start_ts", "end_ts").orderBy(
        "event_type", "island_id"
    )


ORACLE_events_interval_merge = """
WITH iv AS (
    SELECT event_type, ts AS s,
           ts + to_minutes(CAST(floor(value) + 1 AS BIGINT)) AS e
    FROM events
), flagged AS (
    SELECT event_type, s, e,
           CASE WHEN max(e) OVER (PARTITION BY event_type ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) IS NULL
                  OR s > max(e) OVER (PARTITION BY event_type ORDER BY s, e
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_island
    FROM iv
), with_id AS (
    SELECT event_type, s, e,
           sum(new_island) OVER (PARTITION BY event_type ORDER BY s, e)
               AS island_id
    FROM flagged
)
SELECT event_type,
       CAST(island_id AS BIGINT) AS island_id,
       min(s) AS island_start,
       max(e) AS island_end,
       count(*) AS n_intervals,
       max(epoch_us(e)) - min(epoch_us(s)) AS covered_us
FROM with_id
GROUP BY event_type, island_id
ORDER BY event_type, island_id
"""


# ------------------------------------------- contingency / independence ---
def events_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A31: contingency table + per-cell chi-square contributions between
    event type and JSON campaign bucket — the independence screen behind
    "does this segment behave differently" dashboards and feature-leak
    checks on training data.

    Observed counts, row/column marginals and the grand total are exact
    int64 (marginals re-aggregate the CELL counts — no second scan, and
    the two broadcast joins attach driver-sized relations). The per-cell
    statistic (O·n − R·C)² / (R·C·n) is emitted PER CELL as one
    deterministic double expression from exact ints — never a
    parallel float sum, so cross-engine hashing stays stable; the global
    χ² is the caller's driver-side fold over ~|types|·|buckets| rows.
    """
    ev = load(spark, sf_dir, "events")
    campaign = (
        F.get_json_object(F.col("props"), "$.k").cast("long") % 4
    ).alias("campaign")
    cells = ev.select(F.col("event_type"), campaign).groupBy(
        "event_type", "campaign"
    ).agg(F.count(F.lit(1)).alias("observed"))
    row_tot = cells.groupBy("event_type").agg(
        F.sum("observed").alias("row_total")
    )
    col_tot = cells.groupBy("campaign").agg(
        F.sum("observed").alias("col_total")
    )
    grand = cells.groupBy().agg(F.sum("observed").alias("n_total"))
    joined = (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "campaign")
        .crossJoin(F.broadcast(grand))
    )
    o, r, c, n = (
        F.col("observed").cast("double"),
        F.col("row_total").cast("double"),
        F.col("col_total").cast("double"),
        F.col("n_total").cast("double"),
    )
    return joined.select(
        "event_type",
        "campaign",
        "observed",
        F.col("row_total").cast("long").alias("row_total"),
        F.col("col_total").cast("long").alias("col_total"),
        F.col("n_total").cast("long").alias("n_total"),
        ((o * n - r * c) * (o * n - r * c) / (r * c * n)).alias("chi2_contrib"),
    ).orderBy("event_type", "campaign")


ORACLE_events_chisq = """
WITH e AS (
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS campaign
    FROM events
), cells AS (
    SELECT event_type, campaign, count(*) AS observed
    FROM e GROUP BY 1, 2
), rt AS (
    SELECT event_type, CAST(sum(observed) AS BIGINT) AS row_total
    FROM cells GROUP BY 1
), ct AS (
    SELECT campaign, CAST(sum(observed) AS BIGINT) AS col_total
    FROM cells GROUP BY 1
), g AS (
    SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM cells
)
SELECT cells.event_type, cells.campaign,
       CAST(observed AS BIGINT) AS observed,
       row_total, col_total, n_total,
       (CAST(observed AS DOUBLE) * n_total
            - CAST(row_total AS DOUBLE) * col_total)
       * (CAST(observed AS DOUBLE) * n_total
            - CAST(row_total AS DOUBLE) * col_total)
       / (CAST(row_total AS DOUBLE) * col_total * n_total) AS chi2_contrib
FROM cells
JOIN rt USING (event_type)
JOIN ct USING (campaign)
CROSS JOIN g
ORDER BY event_type, campaign
"""


# ---------------------------------------------- distribution drift (PSI) --
#: fixed-width price bins (cents): 20 bins of 3M cents, top bin open-ended.
_PSI_BIN_W = 3_000_000
_PSI_BINS = 20
#: cohort cut: orders before 1996 are the reference distribution.
_PSI_CUT = "1996-01-01"


def orders_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32: population-stability-index drift report — the train/serve
    distribution-shift screen every ML data pipeline runs before trusting
    a new snapshot. Reference cohort (orders before 1996) vs current
    (1996+), fixed-width price bins.

    Fixed bins, not data-dependent deciles, on purpose: decile boundaries
    need either a driver collect or a per-row broadcast nested-loop probe
    (the anti-pattern), while fixed-width binning is a narrow projection
    — both cohorts bin in ONE conditional-aggregate scan, totals
    re-aggregate the 20 bin rows (no second scan), and shares are exact
    Laplace-smoothed ppm ints ((n+1)·10⁶ div (tot+bins), so empty bins
    stay finite). The gate pins the exact integer shares only; the
    per-bin (p−q)·ln(p/q) term lives in :func:`psi_from_shares`, because
    ln()'s last ulp differs between the JVM and DuckDB's libm (observed
    live at sf0.1) — the headline PSI is the caller's 20-row fold over
    that helper."""
    o = load(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("price_cents"),
        (F.col("o_orderdate") < F.lit(_PSI_CUT).cast("timestamp")).alias(
            "is_ref"
        ),
    )
    bin_col = F.least(
        F.lit(_PSI_BINS - 1), F.expr(f"price_cents div {_PSI_BIN_W}")
    ).alias("bin")
    cells = (
        o.select(bin_col, "is_ref")
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_n"),
            F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cur_n"),
        )
    )
    totals = cells.groupBy().agg(
        F.sum("ref_n").alias("ref_tot"), F.sum("cur_n").alias("cur_tot")
    )
    j = cells.crossJoin(F.broadcast(totals))
    p = F.expr(f"(ref_n + 1) * 1000000 div (ref_tot + {_PSI_BINS})")
    q = F.expr(f"(cur_n + 1) * 1000000 div (cur_tot + {_PSI_BINS})")
    return (
        j.select(
            "bin",
            "ref_n",
            "cur_n",
            p.alias("ref_ppm"),
            q.alias("cur_ppm"),
        )
        .orderBy("bin")
    )


ORACLE_orders_drift_psi = f"""
WITH o AS (
    SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
           o_orderdate < TIMESTAMP '{_PSI_CUT}' AS is_ref
    FROM orders
), cells AS (
    SELECT least({_PSI_BINS - 1}, price_cents // {_PSI_BIN_W}) AS bin,
           CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
           CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
    FROM o GROUP BY 1
), tot AS (
    SELECT CAST(sum(ref_n) AS BIGINT) AS ref_tot,
           CAST(sum(cur_n) AS BIGINT) AS cur_tot
    FROM cells
), shares AS (
    SELECT bin, ref_n, cur_n,
           (ref_n + 1) * 1000000 // (ref_tot + {_PSI_BINS}) AS ref_ppm,
           (cur_n + 1) * 1000000 // (cur_tot + {_PSI_BINS}) AS cur_ppm
    FROM cells CROSS JOIN tot
)
SELECT bin, ref_n, cur_n, ref_ppm, cur_ppm
FROM shares
ORDER BY bin
"""


def psi_from_shares(df: DataFrame) -> DataFrame:
    """Attach the per-bin PSI term (p−q)·ln(p/q) to a drift report.

    Deliberately OUTSIDE the hashed gate projection: ln() is a
    transcendental whose last ulp differs between the JVM
    (java.lang.Math.log) and DuckDB's libm — observed live at sf0.1,
    where one bin's term diverged in the final bit while every integer
    column stayed exact. The gate therefore pins the exact ppm shares
    (which carry all the information) and this helper derives the log
    term for consumers; its values are unit-pinned against Python's
    math.log (same libm class) instead of cross-engine hashing."""
    return df.withColumn(
        "psi_term",
        ((F.col("ref_ppm") - F.col("cur_ppm")).cast("double") / 1_000_000.0)
        * (
            F.log(F.col("ref_ppm").cast("double"))
            - F.log(F.col("cur_ppm").cast("double"))
        ),
    )


# ------------------------------------------------- join-key skew report ---
def events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16: join-key skew diagnostic — the pre-flight behind every
    salting/broadcast decision (this repo already runs ad-hoc versions
    for LSH buckets and the salted top-N twin; this is the reusable
    form). Over a three-tier (hot/warm/cold)
    synthetic join key: per power-of-two frequency bucket, how many
    keys land there and what share of ROWS they carry — the histogram
    that says "0.1% of keys carry 60% of rows, salt them".

    Scale shape: groupBy(key) with map-side combine collapses the stream
    to one row per distinct key; the log2 bucketing (exact via binary
    string length — no float log) then reduces keys to ≤64 buckets, and
    the grand total re-aggregates those buckets (driver-sized broadcast,
    no second scan). Nothing global ever sorts; percentiles of the
    frequency distribution are read off the bucket rows."""
    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(
            F.col("event_id") % 3 != 0,
            F.concat(F.lit("hot_"), (F.col("user_id") % 5).cast("string")),
        )
        .when(
            F.col("user_id") % 2 == 0,
            F.concat(F.lit("warm_"), F.col("user_id").cast("string")),
        )
        .otherwise(F.concat(F.lit("cold_"), F.col("event_id").cast("string")))
        .alias("key")
    )
    per_key = keyed.groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))
    buckets = per_key.groupBy(
        (F.length(F.bin(F.col("cnt"))) - 1).cast("long").alias("freq_log2")
    ).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
    )
    total = buckets.groupBy().agg(F.sum("n_rows").alias("tot_rows"))
    return (
        buckets.crossJoin(F.broadcast(total))
        .select(
            "freq_log2",
            "n_keys",
            "n_rows",
            F.expr("n_rows * 1000000 div tot_rows").alias("rows_ppm"),
        )
        .orderBy("freq_log2")
    )


ORACLE_events_skew_report = """
WITH keyed AS (
    SELECT CASE WHEN event_id % 3 != 0
                THEN 'hot_' || CAST(user_id % 5 AS VARCHAR)
                WHEN user_id % 2 = 0
                THEN 'warm_' || CAST(user_id AS VARCHAR)
                ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
    FROM events
), per_key AS (
    SELECT key, count(*) AS cnt FROM keyed GROUP BY key
), buckets AS (
    SELECT CAST(length(bin(cnt)) - 1 AS BIGINT) AS freq_log2,
           count(*) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows
    FROM per_key GROUP BY 1
), tot AS (
    SELECT CAST(sum(n_rows) AS BIGINT) AS tot_rows FROM buckets
)
SELECT freq_log2, n_keys, n_rows,
       n_rows * 1000000 // tot_rows AS rows_ppm
FROM buckets CROSS JOIN tot
ORDER BY freq_log2
"""


# -------------------------------------------- seasonal-baseline outliers --
_SEASONAL_TOPK = 20


def metric_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33: seasonal-baseline anomaly ranking — each sample scored
    against its metric's hour-of-day profile (the simplest seasonal
    decomposition: weekly/diurnal baseline + residual), top-20 absolute
    residuals across all metrics.

    The profile is a (metric, hour) aggregate — ≤ metrics×24 rows — that
    BROADCASTS back onto the stream, so scoring is one scan + one tiny
    join, never a self-join on time. Residuals stay exact until the last
    step: resid_num = value·n − sum is exact int64, and the ranking
    magnitude |resid_num|/n is a single IEEE division per row
    (hash-stable, like the χ² contributions — no transcendental, see
    SCALE.md r8). TakeOrdered keeps the top-K without a global sort."""
    from project_obsidian_core_spark.plans.metrics_queries import (
        synthesize_metrics,
    )

    m = synthesize_metrics(spark, sf_dir)
    prof = m.groupBy("metric_name", F.hour("time").alias("hod")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("metric_value").alias("sum_cents"),
    )
    scored = m.withColumn("hod", F.hour("time")).join(
        F.broadcast(prof), ["metric_name", "hod"]
    )
    resid_num = F.col("metric_value") * F.col("n") - F.col("sum_cents")
    return (
        scored.select(
            "metric_name",
            F.unix_micros(F.col("time")).alias("t_us"),
            F.col("metric_value").alias("value_cents"),
            "hod",
            "n",
            "sum_cents",
            resid_num.alias("resid_num"),
            (F.abs(resid_num).cast("double") / F.col("n").cast("double")).alias(
                "resid_abs"
            ),
        )
        .orderBy(
            F.col("resid_abs").desc(),
            "metric_name",
            "t_us",
            "value_cents",
        )
        .limit(_SEASONAL_TOPK)
    )


def _seasonal_oracle() -> str:
    from project_obsidian_core_spark.plans.metrics_queries import _SYN_SQL

    return f"""
WITH m AS ({_SYN_SQL}),
prof AS (
    SELECT metric_name, hour(time) AS hod,
           count(*) AS n,
           CAST(sum(metric_value) AS BIGINT) AS sum_cents
    FROM m GROUP BY 1, 2
), scored AS (
    SELECT m.metric_name, epoch_us(m.time) AS t_us,
           m.metric_value AS value_cents, p.hod, p.n, p.sum_cents,
           m.metric_value * p.n - p.sum_cents AS resid_num,
           CAST(abs(m.metric_value * p.n - p.sum_cents) AS DOUBLE)
               / CAST(p.n AS DOUBLE) AS resid_abs
    FROM m JOIN prof p
      ON p.metric_name = m.metric_name AND p.hod = hour(m.time)
)
SELECT metric_name, t_us, value_cents, hod,
       CAST(n AS BIGINT) AS n, sum_cents,
       CAST(resid_num AS BIGINT) AS resid_num, resid_abs
FROM scored
ORDER BY resid_abs DESC, metric_name, t_us, value_cents
LIMIT {_SEASONAL_TOPK}
"""


ORACLE_metric_seasonal_outliers = _seasonal_oracle()


# ---------------------------------------------------------- A35: KS test --
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A35: exact two-sample Kolmogorov-Smirnov statistic per event type —
    the binning-free member of the drift family (A32 PSI = fixed bins,
    A31 chi-square = categorical cells, this = the exact sup-gap over the
    EMPIRICAL CDFs).  The screen for "did this A/B split shift the metric
    distribution" that no bin choice can hide a shift from.

    Cohorts are the deterministic user-hash A/B split (user_id % 2).  The
    statistic is computed exactly in int64: group to per-(type, value)
    cohort counts (map-side combined — the only corpus-wide shuffle),
    running sums over the value order give both empirical CDFs, and
    D = max |cum_a·n_b − cum_b·n_a| avoids every division until the final
    ppm report (ks_ppm = D·10⁶ div (n_a·n_b)).  Overflow bound: exact up
    to ~3·10⁹ rows per cohort side (n_a·n_b < 2⁶³); beyond that, pre-
    aggregate values to a fixed grid first (the PSI fallback).

    Scale: the window partitions by event_type over DISTINCT-value rows
    (already reduced by the group-by), and the final per-type max reuses
    the same key partitioning — one corpus shuffle + one distinct-values
    exchange, no joins, no floats until the report.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(F.col("user_id") % 2 == 0, F.lit(1)).otherwise(F.lit(0)).alias("ca"),
        F.when(F.col("user_id") % 2 == 1, F.lit(1)).otherwise(F.lit(0)).alias("cb"),
    )
    per_val = ev.groupBy("event_type", "value").agg(
        F.sum("ca").cast("long").alias("da"),
        F.sum("cb").cast("long").alias("db"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    stepped = per_val.select(
        "event_type",
        F.sum("da").over(wcum).alias("cum_a"),
        F.sum("db").over(wcum).alias("cum_b"),
        F.sum("da").over(wtot).alias("n_a"),
        F.sum("db").over(wtot).alias("n_b"),
    )
    return (
        stepped.groupBy("event_type")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max(F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))).alias(
                "ks_num"
            ),
        )
        .select(
            "event_type",
            "n_a",
            "n_b",
            "ks_num",
            F.expr("ks_num * 1000000 div (n_a * n_b)").alias("ks_ppm"),
        )
        .orderBy("event_type")
    )


ORACLE_events_ks_test = """
WITH e AS (
    SELECT event_type, value,
           CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ca,
           CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS cb
    FROM events
), per_val AS (
    SELECT event_type, value,
           CAST(sum(ca) AS BIGINT) AS da, CAST(sum(cb) AS BIGINT) AS db
    FROM e GROUP BY 1, 2
), stepped AS (
    SELECT event_type,
           sum(da) OVER (PARTITION BY event_type ORDER BY value
                         ROWS UNBOUNDED PRECEDING) AS cum_a,
           sum(db) OVER (PARTITION BY event_type ORDER BY value
                         ROWS UNBOUNDED PRECEDING) AS cum_b,
           sum(da) OVER (PARTITION BY event_type) AS n_a,
           sum(db) OVER (PARTITION BY event_type) AS n_b
    FROM per_val
)
SELECT event_type,
       CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
       CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS ks_num,
       CAST(max(abs(cum_a * n_b - cum_b * n_a)) * 1000000
           // (max(n_a) * max(n_b)) AS BIGINT) AS ks_ppm
FROM stepped
GROUP BY event_type
ORDER BY event_type
"""


# ------------------------------------------------- A41: RFM scoring --
def customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A41: RFM (recency / frequency / monetary) quintile scoring per
    customer — the marketing-segmentation workhorse, expressed as one
    aggregate plus three ntile windows over the REDUCED per-customer
    relation (≤|customers| rows; the corpus is never windowed).

    Determinism: ntile is positional, so every ORDER BY carries the
    custkey tiebreak; monetary is exact cents; the combined score is
    r·100 + f·10 + m — all ints, bit-exact cross-engine.  At 100 TB the
    per-customer aggregate map-side combines; the three windows share
    one single-key relation that is orders of magnitude smaller than
    the fact table.
    """
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.max(F.unix_micros(F.col("o_orderdate"))).alias("last_us"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("spend_cents"),
    )
    wr = Window.orderBy(F.desc("last_us"), F.asc("o_custkey"))
    wf = Window.orderBy(F.desc("n_orders"), F.asc("o_custkey"))
    wm = Window.orderBy(F.desc("spend_cents"), F.asc("o_custkey"))
    scored = per.select(
        "o_custkey",
        "last_us",
        "n_orders",
        "spend_cents",
        F.ntile(5).over(wr).alias("r_score"),
        F.ntile(5).over(wf).alias("f_score"),
        F.ntile(5).over(wm).alias("m_score"),
    )
    return scored.select(
        "o_custkey",
        "last_us",
        "n_orders",
        "spend_cents",
        "r_score",
        "f_score",
        "m_score",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).alias("rfm"),
    ).orderBy("o_custkey")


ORACLE_customer_rfm_scores = """
WITH per AS (
    SELECT o_custkey,
           max(epoch_us(o_orderdate)) AS last_us,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS spend_cents
    FROM orders GROUP BY o_custkey
), scored AS (
    SELECT o_custkey, last_us, n_orders, spend_cents,
           ntile(5) OVER (ORDER BY last_us DESC, o_custkey ASC) AS r_score,
           ntile(5) OVER (ORDER BY n_orders DESC, o_custkey ASC) AS f_score,
           ntile(5) OVER (ORDER BY spend_cents DESC, o_custkey ASC) AS m_score
    FROM per
)
SELECT o_custkey, last_us, n_orders, spend_cents,
       r_score, f_score, m_score,
       r_score * 100 + f_score * 10 + m_score AS rfm
FROM scored
ORDER BY o_custkey
"""


# ------------------------------------------- A42: ABC classification --
_ABC_A_MILLE = 800  # cumulative-revenue share boundaries (per-mille)
_ABC_B_MILLE = 950


def lineitem_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A42: ABC / Pareto classification of parts by revenue — the
    inventory-analytics cut ("which 20% of SKUs carry 80% of revenue")
    as exact integer arithmetic end to end.

    Per-part revenue in exact e4 ints (cents·(100−disc_cents), the
    repo-wide revenue convention), one ORDER BY revenue window builds
    the running share, and the class boundaries compare
    cum·10⁶ ≤ bound·total in cross-multiplied int64 — no float share
    ever computed, so the A/B/C labels can't flip on rounding.  The
    window runs over the per-part relation (|parts| rows), not the fact
    table.  Boundaries are PER-MILLE so the cross-multiply is cum·10³ —
    a ppm scale overflowed int64 on the e4 revenue total at sf0.01
    (cum ~2·10¹³ · 10⁶ > 2⁶³, caught by the gate); 10³ holds to ~9·10¹⁵
    e4-revenue totals, and a larger corpus drops the revenue scale to
    cents (the A36 quantization rationale).
    """
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            cents("l_extendedprice")
            * (F.lit(100) - cents("l_discount", scale=100))
        ).alias("revenue_e4")
    )
    wcum = Window.orderBy(F.desc("revenue_e4"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy()
    c = rev.select(
        "l_partkey",
        "revenue_e4",
        F.sum("revenue_e4").over(wcum).alias("cum_e4"),
        F.sum("revenue_e4").over(wtot).alias("total_e4"),
    )
    cls = (
        F.when(
            F.col("cum_e4") * 1000 <= F.lit(_ABC_A_MILLE) * F.col("total_e4"),
            F.lit("A"),
        )
        .when(
            F.col("cum_e4") * 1000 <= F.lit(_ABC_B_MILLE) * F.col("total_e4"),
            F.lit("B"),
        )
        .otherwise(F.lit("C"))
    )
    return (
        c.select(
            "l_partkey",
            "revenue_e4",
            "cum_e4",
            cls.alias("abc_class"),
        )
        .orderBy(F.desc("revenue_e4"), F.asc("l_partkey"))
    )


ORACLE_lineitem_abc_class = f"""
WITH rev AS (
    SELECT l_partkey,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM lineitem GROUP BY l_partkey
), c AS (
    SELECT l_partkey, revenue_e4,
           CAST(sum(revenue_e4) OVER (ORDER BY revenue_e4 DESC, l_partkey ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_e4,
           CAST(sum(revenue_e4) OVER () AS BIGINT) AS total_e4
    FROM rev
)
SELECT l_partkey, revenue_e4, cum_e4,
       CASE WHEN cum_e4 * 1000 <= {_ABC_A_MILLE} * total_e4 THEN 'A'
            WHEN cum_e4 * 1000 <= {_ABC_B_MILLE} * total_e4 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
ORDER BY revenue_e4 DESC, l_partkey ASC
"""


# ---------------------------------------------- Q17: Benford screen --
#: expected Benford first-digit shares in exact ppm (precomputed
#: log10(1 + 1/d) constants — shared verbatim by plan and oracle so no
#: engine ever evaluates a transcendental)
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: Benford first-significant-digit conformance screen over
    order totals — the classic fraud / synthetic-data smell test, as a
    data-quality family member next to the PSI/KS drift screens.

    One scan: first digit via the cents-integer's string head (exact —
    no float log10), groupBy(digit) map-side combines to ≤9 rows, and
    the expected shares join from a 9-row broadcast literal table built
    from the SAME ppm constants the oracle embeds.  Output per digit:
    observed count, observed ppm, expected ppm, and the signed delta —
    all exact ints.
    """
    o = load(spark, sf_dir, "orders")
    d = o.select(
        F.substring(cents("o_totalprice").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    ).filter(F.col("digit") >= 1)
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    exp = spark.createDataFrame(
        [(k, v) for k, v in sorted(_BENFORD_PPM.items())],
        "digit int, benford_ppm long",
    )
    return (
        counts.join(F.broadcast(exp), "digit")
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 div sum(n) over ()").alias("obs_ppm"),
            "benford_ppm",
            (
                F.expr("n * 1000000 div sum(n) over ()") - F.col("benford_ppm")
            ).alias("delta_ppm"),
        )
        .orderBy("digit")
    )


def _benford_oracle() -> str:
    rows = ", ".join(f"({d}, {p})" for d, p in sorted(_BENFORD_PPM.items()))
    return f"""
WITH c AS (
    SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                            AS VARCHAR), 1, 1) AS INTEGER) AS digit,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY 1
), e(digit, benford_ppm) AS (VALUES {rows})
SELECT c.digit, c.n,
       c.n * 1000000 // CAST(sum(c.n) OVER () AS BIGINT) AS obs_ppm,
       CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
       c.n * 1000000 // CAST(sum(c.n) OVER () AS BIGINT)
           - CAST(e.benford_ppm AS BIGINT) AS delta_ppm
FROM c JOIN e ON c.digit = e.digit
WHERE c.digit >= 1
ORDER BY c.digit
"""


ORACLE_orders_benford = _benford_oracle()


# ----------------------------------------------------- A46: Apdex --
_APDEX_T_CENTS = 5000  # satisfied threshold; tolerating = 4T (standard)


def qan_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A46: Apdex score per event type — the SRE satisfaction index
    (satisfied + tolerating/2) / total with the standard 4T tolerating
    band, sitting beside the A34 burn-rate alert in the reliability
    dashboard family.

    One conditional aggregate per type (map-side combined); the score is
    emitted in exact MILLI units ((2·sat + tol)·500 div total) so the
    row hashes bit-exact — the float Apdex is one deterministic division
    for display.
    """
    ev = load(spark, sf_dir, "events")
    lat = ev.select("event_type", cents("value").alias("lat_cents"))
    agg = lat.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("lat_cents") <= _APDEX_T_CENTS, 1).otherwise(0)
        ).alias("n_satisfied"),
        F.sum(
            F.when(
                (F.col("lat_cents") > _APDEX_T_CENTS)
                & (F.col("lat_cents") <= 4 * _APDEX_T_CENTS),
                1,
            ).otherwise(0)
        ).alias("n_tolerating"),
    )
    return agg.select(
        "event_type",
        "n_total",
        "n_satisfied",
        "n_tolerating",
        F.expr("(2 * n_satisfied + n_tolerating) * 500 div n_total").alias(
            "apdex_milli"
        ),
    ).orderBy("event_type")


ORACLE_qan_apdex = f"""
WITH lat AS (
    SELECT event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS lat_cents
    FROM events
), agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN lat_cents <= {_APDEX_T_CENTS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_satisfied,
           CAST(sum(CASE WHEN lat_cents > {_APDEX_T_CENTS}
                          AND lat_cents <= {4 * _APDEX_T_CENTS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating
    FROM lat GROUP BY event_type
)
SELECT event_type, n_total, n_satisfied, n_tolerating,
       (2 * n_satisfied + n_tolerating) * 500 // n_total AS apdex_milli
FROM agg
ORDER BY event_type
"""


# ------------------------------------------------------ A47: Gini --
def customer_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A47: Gini coefficient of revenue concentration across customers —
    the inequality summary that complements A42's ABC classes (ABC says
    WHERE the cutoffs fall; Gini says HOW concentrated the whole curve
    is) and Q16's skew histogram (key-frequency skew vs value-mass skew).

    Closed form G = (2·Σ i·x_i − (n+1)·Σ x) / (n·Σ x) over the
    ascending-sorted x — but NOT computed by ranking rows: an
    unpartitioned row_number would coalesce |customers| rows into one
    task.  Instead the rank sum folds per DISTINCT value: positions of
    value v occupy (c_lt, c_lt + c_v], so Σ i·x =
    Σ_v v·(c_v·c_lt(v) + c_v·(c_v+1)/2) — one groupBy(x) (map-side
    combined) plus a cumulative window over the distinct-VALUE relation,
    which a revenue grid keeps ≤10⁶ rows at any corpus size (quantize to
    whole currency units at 10⁹ customers, the A42 note).  Ties need no
    break: the per-value fold is their canonical form (equal-x swaps
    cancel in Σ i·x).  Exact int64 numerator/denominator; the float
    ratio is one final division.  The simple ranked formula is the
    ORACLE — the gate match proves the fold's algebraic equivalence.
    """
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("x")
    )
    byval = per.groupBy("x").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    folded = byval.select(
        "x",
        "c",
        F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("c_lt"),
    )
    agg = folded.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("x") * F.col("c")).alias("sx"),
        # div keeps every term int64: c(c+1) is always even, and a double
        # detour would shed bits past 2^53 (x·rank-sum reaches ~10^16)
        F.sum(F.expr("x * (c * c_lt + (c * (c + 1)) div 2)")).alias("six"),
    )
    return agg.select(
        "n",
        "sx",
        (F.lit(2) * F.col("six") - (F.col("n") + 1) * F.col("sx")).alias(
            "gini_num"
        ),
        (F.col("n") * F.col("sx")).alias("gini_den"),
        (
            (F.lit(2) * F.col("six") - (F.col("n") + 1) * F.col("sx")).cast(
                "double"
            )
            / (F.col("n") * F.col("sx")).cast("double")
        ).alias("gini"),
    )


ORACLE_customer_gini = """
WITH per AS (
    SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS x
    FROM orders GROUP BY o_custkey
), ranked AS (
    SELECT x,
           CAST(row_number() OVER (ORDER BY x ASC, o_custkey ASC) AS BIGINT)
               AS i
    FROM per
), agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(i * x) AS BIGINT) AS six
    FROM ranked
)
SELECT n, sx,
       2 * six - (n + 1) * sx AS gini_num,
       n * sx AS gini_den,
       CAST(2 * six - (n + 1) * sx AS DOUBLE) / CAST(n * sx AS DOUBLE) AS gini
FROM agg
"""


# ------------------------------------------------- A49: CUBE + grouping_id
def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A49: full CUBE over (status, priority) with grouping_id — the
    multi-dimensional companion to the qan_grouping_sets ROLLUP.
    grouping_id (Spark bit order: first dim = MSB, matching DuckDB)
    disambiguates an aggregated-away dimension from a genuinely NULL
    value, which the coalesce-to-'(all)' idiom cannot; one pass, the
    Expand feeds a single hash aggregate (2^dims partials map-side).
    """
    o = load(spark, sf_dir, "orders")
    out = (
        o.select(
            "o_orderstatus",
            "o_orderpriority",
            cents("o_totalprice").alias("vc"),
        )
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("vc").alias("revenue_cents"),
        )
    )
    return out.orderBy(
        "gid",
        F.asc_nulls_last("o_orderstatus"),
        F.asc_nulls_last("o_orderpriority"),
    )


ORACLE_orders_cube = """
SELECT CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
"""


# ------------------------------------------ A54: cohort revenue (LTV) matrix
def customer_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A54: acquisition-cohort revenue matrix — customers grouped by
    their FIRST order month, then each cohort's revenue tracked per
    calendar month with a running cumulative (the LTV curve).  The
    money twin of ``events_retention`` (which counts heads, not
    dollars): together they answer "do later cohorts monetize faster".

    Plan: the first-order month is a min over the customer key (one
    shuffle the per-customer relation already pays), the matrix is a
    groupBy over ≤ cohorts×months rows, and the cumulative rides an
    ordered window over THAT reduced relation — the
    aggregate-then-window rule; exact cents end to end, months as
    integer epochs (year·12 + month, no date arithmetic ambiguity).
    """
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("m"),
        cents("o_totalprice").alias("pc"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    mat = (
        o.join(first, "o_custkey")
        .groupBy("cohort_m", "m")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("pc").alias("revenue_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        mat.select(
            "cohort_m",
            "m",
            (F.col("m") - F.col("cohort_m")).alias("month_offset"),
            "n_customers",
            "n_orders",
            "revenue_cents",
            F.sum("revenue_cents").over(w).alias("cum_revenue_cents"),
        )
        .orderBy("cohort_m", "m")
    )


ORACLE_customer_cohort_revenue = """
WITH o AS (
    SELECT o_custkey,
           year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS pc
    FROM orders
), first AS (
    SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1
), mat AS (
    SELECT f.cohort_m, o.m,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
           count(*) AS n_orders,
           CAST(sum(o.pc) AS BIGINT) AS revenue_cents
    FROM o JOIN first f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
)
SELECT cohort_m, m,
       m - cohort_m AS month_offset,
       n_customers, n_orders, revenue_cents,
       CAST(sum(revenue_cents) OVER (PARTITION BY cohort_m ORDER BY m
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_revenue_cents
FROM mat
ORDER BY cohort_m, m
"""


# ------------------- A64: Mann-Whitney U rank-sum two-sample test ---------
def events_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A64: exact Mann-Whitney U (Wilcoxon rank-sum) per event type
    between the deterministic A/B cohorts (user_id % 2) — the RANK
    member of the drift family: A32 PSI = fixed bins, A31 chi-square =
    categorical cells, A35 KS = sup-gap of the CDFs, this = the
    location-shift test ("did the B cohort's values move up or down"),
    the screen with the most power against a median shift that KS's
    sup-norm dilutes.

    Exactness: ranks never materialize per row — values group to
    per-(type, value) cohort counts (the A35 shape), one value-ordered
    window gives the count BELOW each tie group, and midranks stay
    integer by carrying 2·R_A = Σ da·(2·below + t + 1).  The U
    statistic, its null mean, and the tie-corrected variance are all
    composed from five exact int64 columns; z is ONE identical IEEE
    chain over their double casts (sqrt is correctly rounded, so both
    engines emit the same bits).  Overflow bound: 2·R_A ≤ 2·n_a·n —
    exact to ~2·10⁹ rows/type (the A35 bound class); tie cubes need
    max tie-group ≤ 2·10⁶.  Beyond either, pre-grid values first (the
    A32 fallback).

    Scale: ONE corpus shuffle (map-side combined group to distinct
    values), the cumulative window rides per-type partitions of the
    already-reduced relation, output |types| rows.  No joins.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(F.col("user_id") % 2 == 0, F.lit(1)).otherwise(F.lit(0)).alias("ca"),
        F.when(F.col("user_id") % 2 == 1, F.lit(1)).otherwise(F.lit(0)).alias("cb"),
    )
    per_val = ev.groupBy("event_type", "value").agg(
        F.sum("ca").cast("long").alias("da"),
        F.sum("cb").cast("long").alias("db"),
    )
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stepped = per_val.select(
        "event_type",
        "da",
        "db",
        (F.col("da") + F.col("db")).alias("t"),
        F.coalesce(
            F.sum(F.col("da") + F.col("db")).over(wprev), F.lit(0)
        ).alias("below"),
    )
    agg = stepped.groupBy("event_type").agg(
        F.sum("da").alias("n_a"),
        F.sum("db").alias("n_b"),
        F.sum(
            F.col("da") * (2 * F.col("below") + F.col("t") + 1)
        ).alias("r_a_x2"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_term"),
    )
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        "r_a_x2",
        F.expr("r_a_x2 - n_a * (n_a + 1)").alias("u_a_x2"),
        "tie_term",
        F.expr(
            "case when n_a > 0 and n_b > 0 and n_a + n_b > 1"
            "      and tie_term < (n_a + n_b) * (n_a + n_b - 1) * (n_a + n_b + 1)"
            " then (cast(r_a_x2 - n_a * (n_a + 1) as double)"
            "       - cast(n_a as double) * cast(n_b as double))"
            "  / (2.0 * sqrt(cast(n_a as double) * cast(n_b as double)"
            "     * ((cast(n_a + n_b as double) + 1.0)"
            "        - cast(tie_term as double)"
            "          / (cast(n_a + n_b as double)"
            "             * (cast(n_a + n_b as double) - 1.0))) / 12.0))"
            " end"
        ).alias("z"),
    ).orderBy("event_type")


ORACLE_events_mannwhitney = """
WITH e AS (
    SELECT event_type, value,
           CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ca,
           CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS cb
    FROM events
), per_val AS (
    SELECT event_type, value,
           CAST(sum(ca) AS BIGINT) AS da, CAST(sum(cb) AS BIGINT) AS db
    FROM e GROUP BY 1, 2
), stepped AS (
    SELECT event_type, da, db, da + db AS t,
           coalesce(sum(da + db) OVER (PARTITION BY event_type ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS below
    FROM per_val
), agg AS (
    SELECT event_type,
           CAST(sum(da) AS BIGINT) AS n_a,
           CAST(sum(db) AS BIGINT) AS n_b,
           CAST(sum(da * (2 * below + t + 1)) AS BIGINT) AS r_a_x2,
           CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
    FROM stepped GROUP BY event_type
)
SELECT event_type, n_a, n_b, r_a_x2,
       r_a_x2 - n_a * (n_a + 1) AS u_a_x2,
       tie_term,
       case when n_a > 0 and n_b > 0 and n_a + n_b > 1
             and tie_term < (n_a + n_b) * (n_a + n_b - 1) * (n_a + n_b + 1)
        then (cast(r_a_x2 - n_a * (n_a + 1) as double)
              - cast(n_a as double) * cast(n_b as double))
         / (2.0 * sqrt(cast(n_a as double) * cast(n_b as double)
            * ((cast(n_a + n_b as double) + 1.0)
               - cast(tie_term as double)
                 / (cast(n_a + n_b as double)
                    * (cast(n_a + n_b as double) - 1.0))) / 12.0))
        end AS z
FROM agg
ORDER BY event_type
"""


# ------------------ A87: KMV distinct-count sketch (staged r13) ------------
# Registration note: REGISTERED r14 (Block R14 queue drain; was staged
# round 13 when that gate window closed full).  Registry row:
#   ("events_kmv_distinct", x.events_kmv_distinct,
#    x.ORACLE_events_kmv_distinct)
_KMV_K = 64
_KMV_RANGE = 1 << 60  # shared_hash60 is uniform on [0, 2^60)


def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A87: K-minimum-values cardinality sketch per event type, audited
    against the exact count — the DETERMINISTIC member of the
    distinct-count family (A14's HLL row is Spark's approx sketch and
    gets only a rows-only gate; KMV over the engine-portable md5-60
    hash is bit-reproducible in ANSI SQL, so the estimate itself sits
    behind the exactness gate).  Estimator: with h₍ₖ₎ the k-th smallest
    distinct hash, D̂ = (k−1)·2⁶⁰ / h₍ₖ₎ (Bar-Yossef et al.'s unbiased
    KMV form); groups holding fewer than k distinct hashes are exact by
    definition.  (k−1)·2⁶⁰ overflows int64, so the one division is IEEE
    double of exactly-representable ints (63·2⁶⁰ is 6 mantissa bits;
    float(h₍ₖ₎) rounds identically on both engines), floored back to a
    BIGINT estimate; the error report is integer ppm.

    Scale: the distinct-(type, hash) reduce is the only corpus-sized
    exchange (map-side combined); the rank window rides the reduced
    relation, and in production the same sketch keeps only k rows per
    group via per-partition top-k — the audit keeps the full distinct
    so the exact truth is in the same plan."""
    from project_obsidian_core_spark.datapipe.text import shared_hash60

    ev = load(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        "user_id",
        shared_hash60(
            F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
        ).alias("h"),
    )
    dh = hashed.select("event_type", "h").distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    wn = Window.partitionBy("event_type")
    ranked = dh.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_hashes", F.count(F.lit(1)).over(wn)
    )
    sk = ranked.groupBy("event_type").agg(
        F.max("n_hashes").alias("n_hashes"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth_hash"),
    )
    truth = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    est = (
        F.when(
            F.col("kth_hash").isNotNull(),
            F.floor(
                F.lit(float(_KMV_K - 1) * float(_KMV_RANGE))
                / F.col("kth_hash").cast("double")
            ),
        )
        .otherwise(F.col("n_hashes"))
        .cast("long")
    )
    return (
        sk.join(truth, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_hashes",
            "kth_hash",
            est.alias("est_distinct"),
            (
                F.abs(est - F.col("n_exact")) * F.lit(1_000_000)
            )
            .cast("long")
            .alias("_e"),
        )
        .select(
            "event_type",
            "n_exact",
            "n_hashes",
            "kth_hash",
            "est_distinct",
            F.expr("_e div n_exact").alias("abs_err_ppm"),
        )
        .orderBy("event_type")
    )


ORACLE_events_kmv_distinct = f"""
WITH hashed AS (
    SELECT DISTINCT event_type,
           CAST('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
                               1, 15) AS BIGINT) AS h
    FROM events
), ranked AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n_hashes
    FROM hashed
), sk AS (
    SELECT event_type,
           CAST(max(n_hashes) AS BIGINT) AS n_hashes,
           max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth_hash
    FROM ranked GROUP BY event_type
), truth AS (
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
    FROM events GROUP BY event_type
), est AS (
    SELECT s.event_type, t.n_exact, s.n_hashes, s.kth_hash,
           CAST(CASE WHEN s.kth_hash IS NOT NULL
                     THEN floor({float(_KMV_K - 1) * float(_KMV_RANGE)!r}
                                / CAST(s.kth_hash AS DOUBLE))
                     ELSE s.n_hashes END AS BIGINT) AS est_distinct
    FROM sk s JOIN truth t USING (event_type)
)
SELECT event_type, n_exact, n_hashes, kth_hash, est_distinct,
       CAST(abs(est_distinct - n_exact) * 1000000 // n_exact AS BIGINT)
           AS abs_err_ppm
FROM est
ORDER BY event_type
"""


# --------------- A88: count-min sketch heavy hitters (staged r13) ----------
# Registration note: REGISTERED r14 (Block R14 queue drain; was staged
# round 13 when that gate window closed full).  Registry row:
#   ("events_cms_heavy", x.events_cms_heavy,
#    x.ORACLE_events_cms_heavy)
_CMS_D = 4  # hash rows
_CMS_W = 1024  # counters per row


def cms_keyed(ev: DataFrame) -> DataFrame:
    """The skew-shaped key stream A27/A88 share (5 hot keys carry 2/3 of
    rows, the rest are unique cold keys)."""
    return ev.select(
        F.when(
            F.col("event_id") % 3 != 0,
            F.concat(F.lit("hot_"), (F.col("user_id") % 5).cast("string")),
        )
        .otherwise(F.concat(F.lit("cold_"), F.col("event_id").cast("string")))
        .alias("key")
    )


def cms_probes():
    """The d probe structs (r, bucket) for a `key` column — portable
    md5-60 buckets, shared by the batch plan and the streaming twin."""
    from project_obsidian_core_spark.datapipe.text import shared_hash60

    def bucket(r: int):
        return shared_hash60(
            F.concat(F.lit(f"cms{r}:"), F.col("key"))
        ) % F.lit(_CMS_W)

    return F.array(
        *[
            F.struct(F.lit(r).alias("r"), bucket(r).alias("bucket"))
            for r in range(_CMS_D)
        ]
    )


def cms_report(
    keyed: DataFrame, counters: DataFrame
) -> DataFrame:
    """Join CMS counters (however built — one batch pass or a drained
    streaming fold) to the exact recount audit and emit the flagged
    heavy hitters; shared by A88 and its streaming twin so the report
    contract cannot drift."""
    probes = cms_probes()
    truth = keyed.groupBy("key").agg(F.count(F.lit(1)).alias("true_cnt"))
    tot = keyed.agg(F.count(F.lit(1)).alias("n_rows"))
    est = (
        truth.select("key", F.explode(probes).alias("p"))
        .join(
            F.broadcast(counters),
            (F.col("p.r") == F.col("r")) & (F.col("p.bucket") == F.col("bucket")),
        )
        .groupBy("key")
        .agg(F.min("c").alias("cms_est"))
    )
    return (
        truth.join(est, "key")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cms_est") * 100 > F.col("n_rows"))
        .select(
            "key",
            "true_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("true_cnt")).alias("overcount"),
            "n_rows",
            F.expr("cms_est * 1000000 div n_rows").alias("est_share_ppm"),
            (F.col("true_cnt") * 100 > F.col("n_rows")).alias("is_true_hh"),
        )
        .orderBy(F.col("cms_est").desc(), "key")
    )


def events_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A88: count-min sketch over the same skew-shaped key as A27's
    exact heavy hitters — the FIXED-MEMORY member of the frequency
    family: where A27 recounts candidates exactly (two corpus passes),
    the CMS answers from d·w = 4096 integers however many distinct keys
    flow through, at the price of one-sided overcount (est ≥ truth,
    collisions only ADD).  The sketch is deterministic by construction
    (row-r bucket = portable md5-60 of ``cms{r}:key`` mod w), so the
    ESTIMATES sit behind the bit-exact gate, not just the report shape;
    the emitted rows are the CMS-flagged φ-heavy keys (est·100 > N)
    with the true count joined alongside — ``overcount`` and the
    ``is_true_hh`` flag measure exactly what the sketch's ε = e/w
    error bound promises.

    Scale: counters build as one explode(d)+hash aggregate — map-side
    combined to ≤ d·w rows per partition, the exchange carries ~4096
    rows regardless of corpus size; the probe side broadcast-joins the
    counter table (4096 rows) to the candidate keys, so the only
    corpus-sized shuffle is the truth recount the AUDIT needs (a
    production reader probes the broadcast sketch alone)."""
    ev = load(spark, sf_dir, "events")
    keyed = cms_keyed(ev)
    counters = (
        keyed.select(F.explode(cms_probes()).alias("p"))
        .groupBy(F.col("p.r").alias("r"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cms_report(keyed, counters)


def _cms_bucket_sql(r: int) -> str:
    return (
        f"CAST('0x' || substr(md5('cms{r}:' || key), 1, 15) AS BIGINT)"
        f" % {_CMS_W}"
    )


ORACLE_events_cms_heavy = f"""
WITH keyed AS (
    SELECT CASE WHEN event_id % 3 != 0
                THEN 'hot_' || CAST(user_id % 5 AS VARCHAR)
                ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
    FROM events
), probes AS (
    SELECT key, g.r,
           CASE g.r {' '.join(f"WHEN {r} THEN {_cms_bucket_sql(r)}" for r in range(_CMS_D))}
           END AS bucket
    FROM keyed, generate_series(0, {_CMS_D - 1}) AS g(r)
), counters AS (
    SELECT r, bucket, CAST(count(*) AS BIGINT) AS c
    FROM probes GROUP BY r, bucket
), truth AS (
    SELECT key, CAST(count(*) AS BIGINT) AS true_cnt
    FROM keyed GROUP BY key
), tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_rows FROM keyed
), est AS (
    SELECT t.key, min(c.c) AS cms_est
    FROM truth t,
         generate_series(0, {_CMS_D - 1}) AS g(r)
         JOIN counters c
           ON c.r = g.r
          AND c.bucket = CASE g.r
              {' '.join(f"WHEN {r} THEN {_cms_bucket_sql(r).replace('key', 't.key')}" for r in range(_CMS_D))}
              END
    GROUP BY t.key
)
SELECT t.key, t.true_cnt, e.cms_est,
       e.cms_est - t.true_cnt AS overcount,
       tot.n_rows,
       CAST(e.cms_est * 1000000 // tot.n_rows AS BIGINT) AS est_share_ppm,
       t.true_cnt * 100 > tot.n_rows AS is_true_hh
FROM truth t JOIN est e USING (key) CROSS JOIN tot
WHERE e.cms_est * 100 > tot.n_rows
ORDER BY e.cms_est DESC, t.key
"""


# ---------------- A89: CUPED variance-reduced A/B means (staged r13) -------
# Registration note: REGISTERED r14 (Block R14 queue drain; was staged
# round 13 when that gate window closed full).  Registry row:
#   ("events_cuped", x.events_cuped,
#    x.ORACLE_events_cuped)
#: pre-period / experiment-period boundary (2024-01-16 00:00 UTC)
_CUPED_SPLIT_US = 1705363200000000


def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A89: CUPED-adjusted experiment means (Deng et al., WSDM'13) —
    the variance-reduction step the A/B family (A31 chi-square, A35 KS,
    A61 Mann-Whitney) tests AFTER but never adjusts FOR: each user's
    experiment-period metric Y is shifted by θ·(X − X̄) where X is the
    SAME user's pre-period value, θ = cov(X,Y)/var(X) pooled across
    variants; assignment-independent covariates leave the treatment
    effect unbiased while absorbing between-user variance.

    Exactness: per-user X/Y are exact integer units (round(value), the
    cents rule at unit scale so the x·y cross moments stay far from
    int64 edge at any gate SF), all moment sums are exact ints, θ is
    ONE IEEE division of two exact-int Σs (n·Sxy−Sx·Sy over
    n·Sxx−Sx²), and each variant's adjusted mean is the FIXED
    expression tree `Sy_g/n_g − θ·(Sx_g/n_g − Sx/n)` of IEEE doubles —
    identical parse both engines, bit-identical result (the A74 rule
    extended from one division to one fixed tree).

    Scale: one user-keyed exchange builds (x, y) per user (map-side
    combined conditional sums); the pooled moments are a 1-row
    broadcast; the variant report is a 2-row aggregate.  Variant
    assignment is the portable md5-60 hash — reproducible, not
    row-order dependent."""
    from project_obsidian_core_spark.datapipe.text import shared_hash60

    ev = load(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id",
            F.round("value", 0).cast("long").alias("u"),
            (F.expr("unix_micros(ts)") < _CUPED_SPLIT_US).alias("pre"),
        )
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("pre"), F.col("u"))), F.lit(0)
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(~F.col("pre"), F.col("u"))), F.lit(0)
            ).alias("y"),
        )
        .withColumn(
            "variant",
            (
                shared_hash60(
                    F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))
                )
                % 2
            ).cast("long"),
        )
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    g = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
    )
    theta = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    return (
        g.crossJoin(F.broadcast(pooled))
        .select(
            "variant",
            "n_users",
            "sum_x",
            "sum_y",
            (
                F.col("sum_y").cast("double") / F.col("n_users").cast("double")
            ).alias("mean_y"),
            theta.alias("theta"),
            (
                F.col("sum_y").cast("double") / F.col("n_users").cast("double")
                - theta
                * (
                    F.col("sum_x").cast("double")
                    / F.col("n_users").cast("double")
                    - F.col("sx").cast("double") / F.col("n").cast("double")
                )
            ).alias("cuped_mean"),
        )
        .orderBy("variant")
    )


ORACLE_events_cuped = f"""
WITH per_user AS (
    SELECT user_id,
           CAST(coalesce(sum(CASE WHEN epoch_us(ts) < {_CUPED_SPLIT_US}
                                  THEN CAST(round(value, 0) AS BIGINT) END),
                         0) AS BIGINT) AS x,
           CAST(coalesce(sum(CASE WHEN epoch_us(ts) >= {_CUPED_SPLIT_US}
                                  THEN CAST(round(value, 0) AS BIGINT) END),
                         0) AS BIGINT) AS y,
           CAST('0x' || substr(md5('cuped:' || CAST(user_id AS VARCHAR)),
                               1, 15) AS BIGINT) % 2 AS variant
    FROM events GROUP BY user_id
), pooled AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM per_user
), g AS (
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(x) AS BIGINT) AS sum_x,
           CAST(sum(y) AS BIGINT) AS sum_y
    FROM per_user GROUP BY variant
)
SELECT g.variant, g.n_users, g.sum_x, g.sum_y,
       CAST(g.sum_y AS DOUBLE) / CAST(g.n_users AS DOUBLE) AS mean_y,
       CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
           / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE) AS theta,
       CAST(g.sum_y AS DOUBLE) / CAST(g.n_users AS DOUBLE)
       - (CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
          / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE))
         * (CAST(g.sum_x AS DOUBLE) / CAST(g.n_users AS DOUBLE)
            - CAST(p.sx AS DOUBLE) / CAST(p.n AS DOUBLE)) AS cuped_mean
FROM g CROSS JOIN pooled p
ORDER BY g.variant
"""


# ------------------ A95: price index (Laspeyres/Paasche/Fisher) -----------
# Registration note: REGISTERED r14 (Block R14 queue drain; was staged
# round 13 when that gate window closed full).  Registry row:
#   ("part_price_index", x.part_price_index,
#    x.ORACLE_part_price_index)
_IDX_CUTOFF = "1998-01-01"


def part_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A95: the bilateral price-index triple — Laspeyres (base-period
    basket), Paasche (current basket) and their geometric-mean Fisher
    ideal — over parts traded in BOTH periods, the standard "how much
    of the revenue change is PRICE vs volume" decomposition (Laspeyres
    > Paasche is the classic substitution-bias fingerprint).

    Exactness: per-part unit values enter as SCALED-INTEGER terms
    (`p₂·q₁ ≈ s₂·q₁ div q₂` in cents — the documented integer-scaled
    estimator, deterministic on any engine, never an order-dependent
    float fold), index ratios are integer ppm, and Fisher is
    ⌊√(L·P)⌋ — IEEE sqrt is CORRECTLY ROUNDED (unlike ln/exp), and
    L·P ≤ ~10¹⁴ sits exactly in a double, so even the one irrational
    step is bit-stable cross-engine.

    Scale: one partkey-keyed exchange building (q, s) per (part,
    period) — conditional sums, map-side combined; the common-parts
    join is part-dimension-sized; the report is a 1-row reduction."""
    li = load(spark, sf_dir, "lineitem")
    per = (
        li.withColumn(
            "period",
            F.when(
                F.col("l_shipdate") < F.lit(_IDX_CUTOFF).cast("timestamp"),
                F.lit(1),
            ).otherwise(F.lit(2)),
        )
        .groupBy("l_partkey", "period")
        .agg(
            F.sum(F.round("l_quantity", 0).cast("long")).alias("q"),
            F.sum(cents("l_extendedprice")).alias("s"),
        )
        .filter(F.col("q") > 0)
    )
    p1 = per.filter(F.col("period") == 1).select(
        "l_partkey", F.col("q").alias("q1"), F.col("s").alias("s1")
    )
    p2 = per.filter(F.col("period") == 2).select(
        "l_partkey", F.col("q").alias("q2"), F.col("s").alias("s2")
    )
    both = p1.join(p2, "l_partkey")
    agg = both.agg(
        F.count(F.lit(1)).alias("n_common_parts"),
        F.sum("s1").alias("sum_s1"),
        F.sum("s2").alias("sum_s2"),
        F.sum(F.expr("s2 * q1 div q2")).alias("lasp_num"),
        F.sum(F.expr("s1 * q2 div q1")).alias("paas_den"),
    )
    return agg.select(
        "n_common_parts",
        "sum_s1",
        "sum_s2",
        F.expr("lasp_num * 1000000 div sum_s1").alias("laspeyres_ppm"),
        F.expr("sum_s2 * 1000000 div paas_den").alias("paasche_ppm"),
        F.floor(
            F.sqrt(
                (
                    F.expr("lasp_num * 1000000 div sum_s1")
                    * F.expr("sum_s2 * 1000000 div paas_den")
                ).cast("double")
            )
        )
        .cast("long")
        .alias("fisher_ppm"),
    )


ORACLE_part_price_index = f"""
WITH per AS (
    SELECT l_partkey,
           CASE WHEN l_shipdate < TIMESTAMP '{_IDX_CUTOFF}' THEN 1 ELSE 2 END
               AS period,
           CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS q,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS s
    FROM lineitem GROUP BY 1, 2
    HAVING sum(CAST(round(l_quantity, 0) AS BIGINT)) > 0
), both_ AS (
    SELECT a.l_partkey, a.q AS q1, a.s AS s1, b.q AS q2, b.s AS s2
    FROM per a JOIN per b
      ON a.l_partkey = b.l_partkey AND a.period = 1 AND b.period = 2
), agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_common_parts,
           CAST(sum(s1) AS BIGINT) AS sum_s1,
           CAST(sum(s2) AS BIGINT) AS sum_s2,
           CAST(sum(s2 * q1 // q2) AS BIGINT) AS lasp_num,
           CAST(sum(s1 * q2 // q1) AS BIGINT) AS paas_den
    FROM both_
)
SELECT n_common_parts, sum_s1, sum_s2,
       CAST(lasp_num * 1000000 // sum_s1 AS BIGINT) AS laspeyres_ppm,
       CAST(sum_s2 * 1000000 // paas_den AS BIGINT) AS paasche_ppm,
       CAST(floor(sqrt(CAST((lasp_num * 1000000 // sum_s1)
                            * (sum_s2 * 1000000 // paas_den) AS DOUBLE)))
            AS BIGINT) AS fisher_ppm
FROM agg
"""


# ---------- A98: Syntetos-Boylan demand classification (staged r13) --------
# Registration note: REGISTERED r14 (Block R14 queue drain; was staged
# round 13 when that gate window closed full).  Registry row:
#   ("part_demand_classes", x.part_demand_classes,
#    x.ORACLE_part_demand_classes)
#: Syntetos-Boylan cutoffs as exact rationals: ADI 1.32, CV² 0.49
_SB_ADI_NUM, _SB_ADI_DEN = 132, 100
_SB_CV2_NUM, _SB_CV2_DEN = 49, 100


def part_demand_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A98: the Syntetos-Boylan demand-pattern quadrant per part —
    ADI (average inter-demand interval, in monthly buckets) × CV² (the
    squared coefficient of variation of nonzero demand sizes) cut at
    (1.32, 0.49) into smooth / intermittent / erratic / lumpy, the
    forecasting-method router every inventory system runs before
    choosing Croston vs exponential smoothing (A53/A94 assume smooth;
    this table says for which parts that assumption is a lie).

    Exactness: demand grid = exact monthly quantity sums; ADI and CV²
    are REPORTED as integer ppm but CLASSIFIED by exact-int
    cross-multiplies (`n_months·den > n_demand·num`;
    `(n·Σx²−(Σx)²)·den > (Σx)²·num`), so the quadrant never depends on
    a rounded value.  Scale: one (part, month) exchange (map-side
    combined), one part-keyed reduce; the observation span is the
    GLOBAL month count (broadcast 1-row) so absence IS data — a part
    never selling in a month counts toward its interval."""
    li = load(spark, sf_dir, "lineitem")
    monthly = (
        li.withColumn(
            "ym",
            F.year("l_shipdate") * 12 + F.month("l_shipdate"),
        )
        .groupBy("l_partkey", "ym")
        .agg(F.sum(F.round("l_quantity", 0).cast("long")).alias("q"))
        .filter(F.col("q") > 0)
    )
    span = monthly.agg(
        (F.max("ym") - F.min("ym") + 1).alias("n_months")
    )
    per_part = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_demand_months"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    j = per_part.crossJoin(F.broadcast(span))
    cv2_num = F.expr(
        "n_demand_months * sqq - sq * sq"
    )  # CV² numerator (≥0); denominator sq²
    adi_inter = F.expr(
        f"n_months * {_SB_ADI_DEN} > n_demand_months * {_SB_ADI_NUM}"
    )
    cv2_err = (
        cv2_num * F.lit(_SB_CV2_DEN)
        > F.col("sq") * F.col("sq") * F.lit(_SB_CV2_NUM)
    )
    return (
        j.select(
            "l_partkey",
            "n_months",
            "n_demand_months",
            "sq",
            F.expr("n_months * 1000000 div n_demand_months").alias("adi_ppm"),
            (cv2_num * F.lit(1_000_000)).cast("long").alias("_cn"),
            (F.col("sq") * F.col("sq")).alias("_cd"),
            F.when(adi_inter & cv2_err, F.lit("lumpy"))
            .when(adi_inter, F.lit("intermittent"))
            .when(cv2_err, F.lit("erratic"))
            .otherwise(F.lit("smooth"))
            .alias("demand_class"),
        )
        .select(
            "l_partkey",
            "n_months",
            "n_demand_months",
            "sq",
            "adi_ppm",
            F.expr("_cn div _cd").alias("cv2_ppm"),
            "demand_class",
        )
        .orderBy("l_partkey")
    )


ORACLE_part_demand_classes = f"""
WITH monthly AS (
    SELECT l_partkey,
           year(l_shipdate) * 12 + month(l_shipdate) AS ym,
           CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS q
    FROM lineitem GROUP BY 1, 2
    HAVING sum(CAST(round(l_quantity, 0) AS BIGINT)) > 0
), span AS (
    SELECT CAST(max(ym) - min(ym) + 1 AS BIGINT) AS n_months FROM monthly
), per_part AS (
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_demand_months,
           CAST(sum(q) AS BIGINT) AS sq,
           CAST(sum(q * q) AS BIGINT) AS sqq
    FROM monthly GROUP BY l_partkey
)
SELECT l_partkey, n_months, n_demand_months, sq,
       CAST(n_months * 1000000 // n_demand_months AS BIGINT) AS adi_ppm,
       CAST((n_demand_months * sqq - sq * sq) * 1000000 // (sq * sq)
            AS BIGINT) AS cv2_ppm,
       CASE WHEN n_months * {_SB_ADI_DEN} > n_demand_months * {_SB_ADI_NUM}
             AND (n_demand_months * sqq - sq * sq) * {_SB_CV2_DEN}
                 > sq * sq * {_SB_CV2_NUM}
            THEN 'lumpy'
            WHEN n_months * {_SB_ADI_DEN} > n_demand_months * {_SB_ADI_NUM}
            THEN 'intermittent'
            WHEN (n_demand_months * sqq - sq * sq) * {_SB_CV2_DEN}
                 > sq * sq * {_SB_CV2_NUM}
            THEN 'erratic'
            ELSE 'smooth' END AS demand_class
FROM per_part CROSS JOIN span
ORDER BY l_partkey
"""


# ----------- A99: KMV set-operation estimates (staged r13) -----------------
# Registration note: REGISTERED r14 (Block R14 queue drain; was staged
# round 13 when that gate window closed full).  Registry row:
#   ("events_kmv_setops", x.events_kmv_setops,
#    x.ORACLE_events_kmv_setops)
def events_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A99: the reason KMV beats HLL when audiences must COMPOSE — the
    k-minima of a union are computable from the two sketches alone
    (`trunc_k(M_a ∪ M_b)`), so union cardinality, Jaccard and
    intersection estimate all come from 2k stored hashes per pair of
    audiences, no re-scan (Beyer et al. '07's KMV set algebra; HLL
    gives union but its inclusion-exclusion intersections go negative
    on small overlaps).  For every unordered pair of event types:
    D̂(A∪B) from the merged sketch's k-th minimum, Ĵ = |K ∩ M_a ∩
    M_b| / k, D̂(A∩B) = Ĵ·D̂(A∪B) — all audited against the exact
    distinct counts in the same plan, all behind the bit-exact gate
    because every input is the portable md5-60 hash.

    Exactness: ranks/memberships exact ints, the one estimator
    division the A87 IEEE form, Ĵ and the intersection integer ppm.
    Scale: sketches are ≤ k rows per type (the same reduce as A87);
    pair work is |types|²/2 over ≤ 2k-row merges — audience-overlap
    matrices at 10⁶ audiences ride the A37-style block guard, never
    the raw user sets."""
    from project_obsidian_core_spark.datapipe.text import shared_hash60

    ev = load(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        "user_id",
        shared_hash60(
            F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
        ).alias("h"),
    )
    dh = hashed.select("event_type", "h").distinct()
    wt = Window.partitionBy("event_type").orderBy("h")
    minima = dh.withColumn("rn", F.row_number().over(wt)).filter(
        F.col("rn") <= _KMV_K
    )
    types = dh.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    ma = minima.select(
        F.col("event_type").alias("type_a"), F.col("h").alias("h"),
        F.lit(1).alias("in_a"),
    )
    mb = minima.select(
        F.col("event_type").alias("type_b"), F.col("h").alias("h"),
        F.lit(1).alias("in_b"),
    )
    ua = pairs.join(ma, "type_a").select("type_a", "type_b", "h")
    ub = pairs.join(mb, "type_b").select("type_a", "type_b", "h")
    u = ua.unionByName(ub).distinct()
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    ranked = u.withColumn("rn", F.row_number().over(wp)).filter(
        F.col("rn") <= _KMV_K
    )
    flagged = (
        ranked.join(ma.select("type_a", "h", "in_a"), ["type_a", "h"], "left")
        .join(mb.select("type_b", "h", "in_b"), ["type_b", "h"], "left")
    )
    sk = flagged.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth_hash"),
        F.sum(
            F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("rho_num"),
    )
    du = ev.select("event_type", "user_id").distinct()
    a_users = du.select(F.col("event_type").alias("type_a"), "user_id")
    b_users = du.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a_users.join(b_users, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_exact_inter"))
    )
    sizes = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("nb"))
    est_union = (
        F.when(
            F.col("kth_hash").isNotNull(),
            F.floor(
                F.lit(float(_KMV_K - 1) * float(_KMV_RANGE))
                / F.col("kth_hash").cast("double")
            ),
        )
        .otherwise(F.col("k_used"))
        .cast("long")
    )
    return (
        sk.join(inter, ["type_a", "type_b"])
        .join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            (F.col("na") + F.col("nb") - F.col("n_exact_inter")).alias(
                "n_exact_union"
            ),
            "n_exact_inter",
            "k_used",
            "rho_num",
            est_union.alias("est_union"),
            F.expr(f"rho_num * 1000000 div k_used").alias("j_est_ppm"),
        )
        .withColumn(
            "est_inter",
            F.expr("j_est_ppm * est_union div 1000000"),
        )
        .withColumn(
            "union_err_ppm",
            F.expr(
                "abs(est_union - n_exact_union) * 1000000 div n_exact_union"
            ),
        )
        .orderBy("type_a", "type_b")
    )


ORACLE_events_kmv_setops = f"""
WITH dh AS (
    SELECT DISTINCT event_type,
           CAST('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
                               1, 15) AS BIGINT) AS h
    FROM events
), minima AS (
    SELECT event_type, h
    FROM (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM dh)
    WHERE rn <= {_KMV_K}
), pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b
    FROM (SELECT DISTINCT event_type FROM dh) a,
         (SELECT DISTINCT event_type FROM dh) b
    WHERE a.event_type < b.event_type
), u AS (
    SELECT DISTINCT p.type_a, p.type_b, m.h
    FROM pairs p JOIN minima m
      ON m.event_type = p.type_a OR m.event_type = p.type_b
), ranked AS (
    SELECT type_a, type_b, h,
           row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
    FROM u
    QUALIFY rn <= {_KMV_K}
), sk AS (
    SELECT r.type_a, r.type_b,
           CAST(count(*) AS BIGINT) AS k_used,
           max(CASE WHEN r.rn = {_KMV_K} THEN r.h END) AS kth_hash,
           CAST(sum(CASE WHEN ma.h IS NOT NULL AND mb.h IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS rho_num
    FROM ranked r
    LEFT JOIN minima ma ON ma.event_type = r.type_a AND ma.h = r.h
    LEFT JOIN minima mb ON mb.event_type = r.type_b AND mb.h = r.h
    GROUP BY r.type_a, r.type_b
), du AS (
    SELECT DISTINCT event_type, user_id FROM events
), inter AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_exact_inter
    FROM du a JOIN du b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
), sizes AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
    FROM du GROUP BY event_type
), est AS (
    SELECT s.type_a, s.type_b,
           sa.n_users + sb.n_users - i.n_exact_inter AS n_exact_union,
           i.n_exact_inter, s.k_used, s.rho_num,
           CAST(CASE WHEN s.kth_hash IS NOT NULL
                     THEN floor({float(_KMV_K - 1) * float(_KMV_RANGE)!r}
                                / CAST(s.kth_hash AS DOUBLE))
                     ELSE s.k_used END AS BIGINT) AS est_union,
           CAST(s.rho_num * 1000000 // s.k_used AS BIGINT) AS j_est_ppm
    FROM sk s
    JOIN inter i ON i.type_a = s.type_a AND i.type_b = s.type_b
    JOIN sizes sa ON sa.event_type = s.type_a
    JOIN sizes sb ON sb.event_type = s.type_b
)
SELECT type_a, type_b,
       CAST(n_exact_union AS BIGINT) AS n_exact_union,
       n_exact_inter, k_used, rho_num, est_union, j_est_ppm,
       CAST(j_est_ppm * est_union // 1000000 AS BIGINT) AS est_inter,
       CAST(abs(est_union - n_exact_union) * 1000000 // n_exact_union
            AS BIGINT) AS union_err_ppm
FROM est
ORDER BY type_a, type_b
"""


# ------- A101: Markov stationary distribution (staged r13) -----------------
# Registration note: REGISTERED r14 (Block R14 queue drain; was staged
# round 13 when that gate window closed full).  Registry row:
#   ("events_markov_stationary", x.events_markov_stationary,
#    x.ORACLE_events_markov_stationary)
_MK_ROUNDS = 12


def events_markov_stationary(
    spark: SparkSession, sf_dir: str, scale: int = 1_000_000
) -> DataFrame:
    """A101: the stationary distribution of the A30 behavior chain —
    A30 reports WHERE users go next; the stationary π says where the
    process SPENDS ITS TIME in the long run (the PageRank of the
    behavior graph, and the honest denominator for "is event type X
    over-represented today vs its equilibrium share").

    Exactness: the N17-unrolled-PageRank move applied to the behavior
    chain — 12 power-iteration rounds in SCALED-INTEGER ppm
    (`π'_b = Σ_a (π_a·C_ab) div R_a`, every term an exact int64 with
    identical truncation on both engines; mass drift from truncation is
    part of the DEFINED algorithm, not error), uniform ppm start with
    the largest-remainder deterministic split (the P15 rule).  The
    report carries the last two rounds so the gate also pins the
    convergence delta.

    Scale: the transition matrix is a ≤|types|²-row reduced relation
    (one user-keyed lead-window exchange builds it — the A30 plan);
    each unrolled round is a ≤|types|²-row broadcast join — the
    iteration never touches the corpus again.  The FIXED-POINT SCALE
    must grow with the state count: at ppm a 1000-state chain
    truncates every `π_a·c div r` term to ~0 and the mass collapses
    (soak-measured: total loss at ppm vs 3 ppm drift at 10¹² over 12
    rounds on a 10⁶-row matrix — `scripts/soak_r13x.py`); pass
    `scale=10**12` beyond a few hundred states.  The gated plan keeps
    ppm (5 states)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    wd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type", 1).over(wd).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("c").alias("r"))
    matrix = pairs.join(totals, "from_type")
    # r17 (verdict #5, unblocking the r16 attempt): the 12 power-iteration
    # rounds run IN-ROW over the one-row collected ≤|types|²-entry matrix.
    # The r16 in-row draft nested one lambda bind per round and hit the
    # analyzer's max-iterations ceiling at 12 rounds; the loop is now ONE
    # `aggregate(sequence(1, R-1), pi0, (pi, k) -> step)` fold — the
    # accumulator rebinds per iteration at RUNTIME, so analyzer depth is
    # constant in the round count.  Arithmetic is verbatim: per-entry
    # `pi[a]·c div r` truncation then int64 sums (reordered only —
    # associative), largest-remainder uniform start ranked over the sorted
    # from-types, and a relational join-miss ≡ a skipped contribution, so
    # the values are bit-identical (oracle-gated at both SFs).  A type
    # absent from a round's relation is NULL in the fold (see `step`), so
    # the final inner joins — from-types with a row in rounds R-1 and R —
    # are the `keep` filter; testing from∩to types instead kept a type
    # whose support died out on an absorbing chain.  The corpus stage
    # (lead window → matrix) is unchanged.
    # A global aggregate over an empty matrix still yields one row whose
    # `ms` is empty; `sequence(1, size(un))` would then count down to
    # [1, 0] and the `div size(fts)` seed divide by zero, so that row is
    # dropped (no transitions → no stationary rows, as in the oracle).
    g = matrix.groupBy().agg(
        F.expr(
            "sort_array(collect_list(struct(from_type, to_type, c, r)))"
        ).alias("ms")
    ).filter("size(ms) > 0")

    def bind(val: str, name: str, body: str) -> str:
        return f"element_at(transform(array({val}), {name} -> {body}), 1)"

    # NULL marks a type with no support in a round (no row in the
    # oracle's round relation): a step sums only the contributions of
    # supported sources and stays NULL when there are none
    step = (
        "transform(sequence(1, size(un)), j ->"
        " aggregate(ei, CAST(NULL AS BIGINT), (acc, e) ->"
        "  IF(e.ti = j AND element_at({pi}, e.fi) IS NOT NULL,"
        "     coalesce(acc, 0L) + element_at({pi}, e.fi) * e.c div e.r,"
        "     acc)))"
    )
    final = (
        "filter(transform(sequence(1, size(un)), j ->"
        " struct("
        "  element_at(un, j) AS event_type,"
        "  aggregate(filter(ms, m -> m.from_type = element_at(un, j)),"
        "            0L, (acc, m) -> acc + m.c) AS row_total,"
        "  element_at(pb, j) AS pi_ppm,"
        "  element_at(pa, j) AS pi_prev_ppm,"
        "  abs(element_at(pb, j) - element_at(pa, j)) AS delta_ppm,"
        "  array_position(fts, element_at(un, j)) > 0"
        "   AND element_at(pb, j) IS NOT NULL"
        "   AND element_at(pa, j) IS NOT NULL AS keep)),"
        " s -> s.keep)"
    )
    body = bind(step.format(pi="pa"), "pb", final)
    body = bind(
        f"aggregate(sequence(1, {_MK_ROUNDS - 1}), p0,"
        f" (pi, k) -> {step.format(pi='pi')})",
        "pa",
        body,
    )
    body = bind(
        f"transform(un, u -> IF(array_position(fts, u) > 0,"
        f" {scale} div size(fts)"
        f" + IF(array_position(fts, u) <= {scale} % size(fts), 1L, 0L),"
        f" CAST(NULL AS BIGINT)))",
        "p0",
        body,
    )
    body = bind(
        "transform(ms, m -> struct("
        "cast(array_position(un, m.from_type) as int) AS fi,"
        "cast(array_position(un, m.to_type) as int) AS ti,"
        "m.c AS c, m.r AS r))",
        "ei",
        body,
    )
    body = bind(
        "array_sort(array_distinct(concat(fts, tts)))", "un", body
    )
    body = bind(
        "array_sort(array_distinct(transform(ms, m -> m.to_type)))",
        "tts",
        body,
    )
    body = bind(
        "array_sort(array_distinct(transform(ms, m -> m.from_type)))",
        "fts",
        body,
    )
    return (
        g.select(F.explode(F.expr(body)).alias("s"))
        .select(
            "s.event_type",
            "s.row_total",
            "s.pi_ppm",
            "s.pi_prev_ppm",
            "s.delta_ppm",
        )
        .orderBy("event_type")
    )


def _markov_stationary_oracle() -> str:
    rounds = []
    for i in range(_MK_ROUNDS):
        src = f"r{i}"
        rounds.append(
            f"""r{i + 1} AS (
    SELECT m.to_type AS event_type,
           CAST(sum(p.pi_ppm * m.c // m.r) AS BIGINT) AS pi_ppm
    FROM matrix m JOIN {src} p ON p.event_type = m.from_type
    GROUP BY m.to_type
)"""
        )
    return f"""
WITH pairs AS (
    SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
    FROM (
        SELECT event_type AS from_type,
               lead(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS to_type
        FROM events
    )
    WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
), totals AS (
    SELECT from_type, CAST(sum(c) AS BIGINT) AS r
    FROM pairs GROUP BY from_type
), matrix AS (
    SELECT p.from_type, p.to_type, p.c, t.r
    FROM pairs p JOIN totals t USING (from_type)
), r0 AS (
    SELECT from_type AS event_type,
           CAST(1000000 // (SELECT count(*) FROM totals)
                + CASE WHEN row_number() OVER (ORDER BY from_type)
                            <= 1000000 % (SELECT count(*) FROM totals)
                       THEN 1 ELSE 0 END AS BIGINT) AS pi_ppm
    FROM totals
), {", ".join(rounds)}
SELECT t.from_type AS event_type, t.r AS row_total,
       f.pi_ppm, p.pi_ppm AS pi_prev_ppm,
       abs(f.pi_ppm - p.pi_ppm) AS delta_ppm
FROM totals t
JOIN r{_MK_ROUNDS} f ON f.event_type = t.from_type
JOIN r{_MK_ROUNDS - 1} p ON p.event_type = t.from_type
ORDER BY event_type
"""


ORACLE_events_markov_stationary = _markov_stationary_oracle()


# ---------- Q19: HDR-style log2 latency histogram (staged r13) -------------
# Registration note: REGISTERED r14 (Block R14 queue drain; was staged
# round 13 when that gate window closed full).  Registry row:
#   ("qan_latency_log2_histogram", x.qan_latency_log2_histogram,
#    x.ORACLE_qan_latency_log2_histogram)
def qan_latency_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: the HDR-histogram bucketing of per-digest latencies — bucket
    = ⌊log₂(cents)⌋, the industry-standard latency shape (p50 and p999
    live decades apart; linear bins like Q-family's value histogram
    either blur the head or truncate the tail, log2 bins give constant
    RELATIVE error and, crucially, MERGE by bucket-wise addition —
    the rollup-friendly property Druid/HdrHistogram deployments rely
    on).  Zero values land in a dedicated bucket −1.

    Exactness: ⌊log₂⌋ is computed as `length(bin(c)) − 1` — a bit trick
    on the exact integer, NO float log anywhere (log2's rounding is not
    IEEE-guaranteed; binary-string length is); bounds are powers of two
    (`shiftleft`), shares integer ppm.  Scale: one (digest, bucket)
    map-side-combined aggregate — the same single exchange as any
    rollup; ≤ 64 buckets per digest regardless of value range."""
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        F.col("event_type").alias("digest"),
        cents("value").alias("c"),
    ).withColumn(
        "bucket",
        F.when(F.col("c") <= 0, F.lit(-1)).otherwise(
            F.length(F.expr("bin(c)")) - 1
        ).cast("long"),
    )
    per_digest = b.groupBy("digest").agg(F.count(F.lit(1)).alias("n_digest"))
    return (
        b.groupBy("digest", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
        )
        .join(per_digest, "digest")
        .select(
            "digest",
            "bucket",
            F.when(F.col("bucket") < 0, F.lit(0))
            .otherwise(F.expr("shiftleft(1L, cast(bucket as int))"))
            .alias("lower_cents"),
            "n",
            "min_cents",
            "max_cents",
            F.expr("n * 1000000 div n_digest").alias("share_ppm"),
        )
        .orderBy("digest", "bucket")
    )


ORACLE_qan_latency_log2_histogram = """
WITH b AS (
    SELECT event_type AS digest,
           CAST(round(value * 100, 0) AS BIGINT) AS c,
           CASE WHEN CAST(round(value * 100, 0) AS BIGINT) <= 0 THEN -1
                ELSE length(bin(CAST(round(value * 100, 0) AS BIGINT))) - 1
           END AS bucket
    FROM events
), pd AS (
    SELECT digest, CAST(count(*) AS BIGINT) AS n_digest
    FROM b GROUP BY digest
)
SELECT b.digest, CAST(b.bucket AS BIGINT) AS bucket,
       CAST(CASE WHEN b.bucket < 0 THEN 0
                 ELSE 1 << b.bucket END AS BIGINT) AS lower_cents,
       CAST(count(*) AS BIGINT) AS n,
       min(b.c) AS min_cents,
       max(b.c) AS max_cents,
       CAST(count(*) * 1000000 // max(pd.n_digest) AS BIGINT) AS share_ppm
FROM b JOIN pd USING (digest)
GROUP BY b.digest, b.bucket
ORDER BY digest, bucket
"""
