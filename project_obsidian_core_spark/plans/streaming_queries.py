"""Driver-facing wrapper for the streaming stateful delta (SURVEY §2.9).

Synthesizes a dense cumulative-counter snapshot history from the `events`
table (instance = user_id%10, digest = event_type, hourly scrape ticks,
counter stored mod 100 so the reset branch T3 fires), replays it through the
``applyInPandasWithState`` pipeline in one availableNow pass, and returns the
emitted deltas.

The oracle is the *batch* lag-window formulation of the same semantics —
the two must agree exactly (the streaming fold and the lag window are the
same recurrence), so this query pins streaming↔batch equivalence at the
driver's correctness gate.
"""

from __future__ import annotations

import itertools
import os
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from project_obsidian_core_spark.plans.common import cents, load
from project_obsidian_core_spark.streaming import delta_stream as DS

_RUN_IDS = itertools.count()

#: sf_dir -> materialized synthesized-snapshot parquet path (per-process)
_SRC_CACHE: dict[str, str] = {}

#: counter modulus — small enough that sf0.01's cumulative counts wrap (T3).
MOD = 100

_SNAP_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.StringType()),
        T.StructField("snapshot_ts", T.TimestampType()),
        T.StructField("digest", T.StringType()),
        T.StructField("count_star", T.LongType()),
        T.StructField("value_cents", T.LongType()),
    ]
)


# ------------------------------------------------------ replay harness ---
# Every twin below replays a parquet snapshot of its input table as a file
# stream, drains it with one ``_drain`` call (fresh checkpoint and memory
# table per run) and — for versioned emissions — reads back each key's
# max-version rows.


def _materialize(
    key: str, build: Callable[[], DataFrame], copies: int = 1
) -> str:
    """Write ``build()`` once per process as a parquet dir a file-source
    stream can replay, ``copies`` times over (one file set per copy);
    later runs with the same ``key`` reuse it (fixture construction, not
    the operator under test)."""
    src = _SRC_CACHE.get(key)
    if src is None:
        src = f"{tempfile.mkdtemp(prefix='obsidian_src_')}/src"
        df = build()
        for i in range(copies):
            df.write.mode("append" if i else "overwrite").parquet(src)
        _SRC_CACHE[key] = src
    return src


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events columns the twins replay, with exact-cents values (the
    raw ``value`` double rides along for the twins that key on it)."""
    return load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type",
        cents("value").alias("cents"), "value",
    )


def _events_src(spark: SparkSession, sf_dir: str) -> str:
    return _materialize(f"events:{sf_dir}", lambda: _events(spark, sf_dir))


def _documents_src(spark: SparkSession, sf_dir: str, *cols: str) -> str:
    """The named columns of the documents table."""
    return _materialize(
        f"documents:{','.join(cols)}:{sf_dir}",
        lambda: load(spark, sf_dir, "documents").select(*cols),
    )


def _replay(
    spark: SparkSession, src: str, max_files: str | None = None
) -> DataFrame:
    """A file-source stream over the parquet dir ``src``, optionally
    split into micro-batches of ``max_files`` files."""
    reader = spark.readStream.schema(spark.read.parquet(src).schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(src)


def _drain(
    spark: SparkSession,
    df: DataFrame,
    mode: str,
    *,
    partitions: int = 8,
    state: bool = False,
) -> DataFrame:
    """Run the stream ``df`` over all of its input (availableNow) from a
    fresh checkpoint into a memory table, at ``partitions`` shuffle
    partitions, and return that table: ``mode`` "complete" for
    aggregations, "append" for stateful emissions.

    With ``state=True`` it returns instead the rows the stream's stateful
    operator holds after the last batch, read from the same checkpoint
    with Spark's ``statestore`` source: one row per state key, a ``key``
    and a ``value`` struct (an ``applyInPandasWithState`` state row is
    ``value.groupState``).  The emitted rows then go to a ``noop`` sink,
    so the session does not keep them."""
    run = next(_RUN_IDS)
    name = f"obsidian_drain_{run}"
    ckpt = f"{tempfile.mkdtemp(prefix=f'{name}_')}/ckpt"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        q = (
            df.writeStream.format("noop" if state else "memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if state:
        return spark.read.format("statestore").load(ckpt)
    return spark.table(name)


def _latest(emitted: DataFrame, *keys: str) -> DataFrame:
    """The max-version drain of a superseding emission: per key, only the
    rows of its highest ``version`` (each version re-emits the key's
    whole current answer)."""
    w = Window.partitionBy(*keys)
    return emitted.withColumn("_vmax", F.max("version").over(w)).filter(
        F.col("version") == F.col("_vmax")
    )


def _metric_name() -> Column:
    """events.event_type as the metrics_db ``metric_name`` the batch
    metric operators key on."""
    from project_obsidian_core_spark.plans.metrics_queries import HIT, READ

    return (
        F.when(F.col("event_type") == "view", F.lit(HIT))
        .when(F.col("event_type") == "click", F.lit(READ))
        .otherwise(F.concat(F.lit("postgresql."), F.col("event_type")))
        .alias("metric_name")
    )


#: event-time bucket expressions of the minute / hour metric series
_MINUTE = "unix_micros(ts) div 60000000"
_HOUR = "unix_micros(ts) div 3600000000"


def _metric_series(spark: SparkSession, sf_dir: str, bucket: str) -> DataFrame:
    """Events replayed as (metric_name, bucket, v=cents) rows, ``bucket``
    a SQL expression over ``ts``."""
    return _replay(spark, _events_src(spark, sf_dir), "4").select(
        _metric_name(), F.expr(bucket).alias("bucket"), F.col("cents").alias("v")
    )


def _replay_metric_series(
    spark: SparkSession,
    sf_dir: str,
    bucket: str,
    op: Callable[..., DataFrame],
    *args,
) -> DataFrame:
    """Replay the metric series of ``bucket`` through the bucket-series
    operator ``op(keyed, *args)`` and return its max-version rows per
    metric."""
    keyed = _metric_series(spark, sf_dir, bucket)
    return _latest(_drain(spark, op(keyed, *args), "append"), "metric_name")


def synthesize_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly cumulative snapshots per (instance, digest).

    Dense = every pair has a row for every global scrape hour from its
    first appearance on (once in perf-schema, a digest stays), which is what
    makes the streaming fold and the batch lag window coincide.
    """
    ev = load(spark, sf_dir, "events")
    inc = ev.groupBy(
        (F.col("user_id") % 10).cast("string").alias("instance_id"),
        F.col("event_type").alias("digest"),
        F.date_trunc("hour", F.col("ts")).alias("snap_ts"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("value")).alias("v"),
    )
    hours = inc.select("snap_ts").distinct()
    pairs = inc.groupBy("instance_id", "digest").agg(F.min("snap_ts").alias("first_ts"))
    grid = pairs.join(F.broadcast(hours), F.col("snap_ts") >= F.col("first_ts")).select(
        "instance_id", "digest", "snap_ts"
    )
    dense = grid.join(inc, ["instance_id", "digest", "snap_ts"], "left").select(
        "instance_id",
        "digest",
        "snap_ts",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("v", F.lit(0)).alias("v"),
    )
    w = Window.partitionBy("instance_id", "digest").orderBy("snap_ts")
    return dense.select(
        "instance_id",
        F.col("snap_ts").alias("snapshot_ts"),
        "digest",
        (F.sum("n").over(w) % MOD).alias("count_star"),
        F.sum("v").over(w).alias("value_cents"),
    )


def stream_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the synthesized snapshot history through the streaming
    stateful delta and return every emitted delta row.

    The stateful stage's shuffle width is pinned to the group count
    (10 instances) for the replay: every shuffle partition carries a state
    store whose per-batch commit cost is paid whether or not it holds a
    group, so width ≫ #groups multiplies commit overhead for zero
    parallelism (measured 48 s → 8.5 s at sf0.1 going 32 → 8). At fleet
    scale you size this to the instance count, not the table width.
    """
    # The synthesized snapshot history stands in for a live collector
    # feed; each run replays it from a fresh checkpoint.
    src = _materialize(
        f"snapshots:{sf_dir}", lambda: synthesize_snapshots(spark, sf_dir)
    )
    stream = spark.readStream.schema(_SNAP_SCHEMA).parquet(src)
    deltas = DS.stateful_deltas(
        stream,
        key_cols=["digest"],
        metric_fields=[("count_star", T.LongType()), ("value_cents", T.LongType())],
        activity_col="count_star",
    )
    emitted = _drain(spark, deltas, "append", partitions=10)  # = #instances
    return emitted.orderBy("instance_id", "digest", "snapshot_ts")


ORACLE_stream_snapshot_delta = f"""
WITH inc AS (
    SELECT CAST(user_id % 10 AS VARCHAR) AS instance_id,
           event_type AS digest,
           date_trunc('hour', ts) AS snap_ts,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
    FROM events GROUP BY 1, 2, 3
), hours AS (
    SELECT DISTINCT snap_ts FROM inc
), pairs AS (
    SELECT instance_id, digest, min(snap_ts) AS first_ts FROM inc GROUP BY 1, 2
), dense AS (
    SELECT p.instance_id, p.digest, h.snap_ts,
           coalesce(i.n, 0) AS n, coalesce(i.v, 0) AS v
    FROM pairs p
    JOIN hours h ON h.snap_ts >= p.first_ts
    LEFT JOIN inc i ON i.instance_id = p.instance_id
                   AND i.digest = p.digest AND i.snap_ts = h.snap_ts
), cum AS (
    SELECT instance_id, digest, snap_ts,
           CAST(sum(n) OVER w % {MOD} AS BIGINT) AS count_star,
           CAST(sum(v) OVER w AS BIGINT) AS value_cents
    FROM dense
    WINDOW w AS (PARTITION BY instance_id, digest ORDER BY snap_ts)
), inst AS (
    SELECT instance_id, snap_ts,
           lag(snap_ts) OVER (PARTITION BY instance_id ORDER BY snap_ts) AS prev_its,
           min(snap_ts) OVER (PARTITION BY instance_id) AS inst_first
    FROM (SELECT DISTINCT instance_id, snap_ts FROM dense)
), lagd AS (
    SELECT instance_id, digest, snap_ts, count_star, value_cents,
           lag(count_star) OVER w2 AS pc,
           lag(value_cents) OVER w2 AS pv
    FROM cum
    WINDOW w2 AS (PARTITION BY instance_id, digest ORDER BY snap_ts)
)
SELECT l.instance_id,
       l.snap_ts AS snapshot_ts,
       l.digest,
       CASE WHEN l.pc IS NULL OR l.count_star < l.pc
            THEN l.count_star ELSE l.count_star - l.pc END AS count_star_delta,
       CASE WHEN l.pv IS NULL OR l.value_cents < l.pv
            THEN l.value_cents ELSE l.value_cents - l.pv END AS value_cents_delta,
       (epoch_us(i.snap_ts) - epoch_us(i.prev_its)) / 1000000.0 AS time_period_seconds
FROM lagd l
JOIN inst i ON i.instance_id = l.instance_id AND i.snap_ts = l.snap_ts
WHERE l.snap_ts > i.inst_first
  AND (CASE WHEN l.pc IS NULL OR l.count_star < l.pc
            THEN l.count_star ELSE l.count_star - l.pc END) > 0
ORDER BY l.instance_id, l.digest, snapshot_ts
"""


# ------------------------------------------------- stream-stream range join
def stream_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through the watermarked stream-stream interval join and
    aggregate the emitted pairs — must match the BATCH range join's oracle
    (plans/temporal_queries.ORACLE_events_range_join) exactly: streaming ↔
    batch equivalence for the interval-join semantics at the driver gate.
    """
    from project_obsidian_core_spark.plans.temporal_queries import RANGE_SPAN_US
    from project_obsidian_core_spark.streaming import interval_join as IJ

    src = _events_src(spark, sf_dir)
    anchors = (
        _replay(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    probes = _replay(spark, src).select("user_id", "ts", "cents")
    pairs = IJ.interval_join(
        anchors, probes, on="user_id", span_seconds=RANGE_SPAN_US // 1_000_000
    )
    return (
        _drain(spark, pairs, "append")
        .groupBy("a_event_id", "a_ts")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("p_cents").alias("sum_cents"),
        )
        .select(
            F.col("a_event_id").alias("event_id"),
            F.unix_micros("a_ts").alias("anchor_us"),
            "n_events",
            "sum_cents",
        )
        .orderBy("event_id")
    )


# ------------------------------------------------ streaming session windows
def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through a STREAMING native session_window aggregation
    and return per-session stats — must match the batch session_window
    oracle (plans/pipeline_queries.ORACLE_session_window_stats) exactly:
    streaming ↔ batch equivalence for mergeable session state.

    The replay runs in complete output mode (no watermark), so every
    session is emitted at stream end regardless of batch layout; the
    watermark/finalization semantics of the same operator are pinned
    separately by tests/test_windowed_stream.py. Session state merges
    across micro-batches — the stateful path a live deployment runs.
    """
    from project_obsidian_core_spark.plans.pipeline_queries import _SESSION_GAP

    stream = _replay(spark, _events_src(spark, sf_dir))
    sess = stream.groupBy(
        F.session_window("ts", _SESSION_GAP), F.col("user_id")
    ).agg(
        F.min(F.expr("unix_micros(ts)")).alias("session_start_us"),
        F.max(F.expr("unix_micros(ts)")).alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("value_sum"),
    )
    return _drain(spark, sess.drop("session_window"), "complete").orderBy(
        "user_id", "session_start_us"
    )


# ------------------------------------------------- streaming deduplication
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table DUPLICATED (every row twice) through
    ``dropDuplicatesWithinWatermark`` on the event key, then aggregate
    per-type counts — which must equal the batch distinct counts over the
    original table (the oracle). This is the D7 streaming-dedup operator
    promoted to the driver gate: if the stateful dedup ever under- or
    over-drops across micro-batches, the counts diverge.
    """
    # two copies -> two file sets -> duplicates arrive across batches
    src = _materialize(
        f"events2x:{sf_dir}",
        lambda: load(spark, sf_dir, "events").select("event_id", "ts", "event_type"),
        copies=2,
    )

    # the watermark delay must cover the table's full time span: replay
    # file order is not time order, so a shorter delay would drop late
    # FIRST copies (undercount) rather than just late duplicates. A live
    # deployment uses a realistic delay; the gate needs exact equality
    # under arbitrary file-batch order.
    stream = (
        _replay(spark, src, "8")
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return _drain(spark, counts, "complete").select(
        "event_type", F.col("n_events").cast("long").alias("n_events")
    ).orderBy("event_type")


ORACLE_stream_dedup_events = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ------------------------------------------------- streaming minute rollup
def stream_rollup_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through a STREAMING tumbling-window rollup — 1-minute
    windows per (user, event type) with count/sum/max/min in exact cents —
    which must match the batch ``qan_rollup_minute`` oracle exactly.

    This is the reference's metrics_db ingest path (Kafka → Druid
    ``rollup=true`` HOUR segments, `druid/config/qan_ingestion_spec.json:58-60`)
    run as a Structured Streaming windowed aggregation: partial per-batch
    states merge across micro-batches, so a green row pins streaming↔batch
    mergeability of the rollup — the property Druid's rollup segments rely
    on. Window state is keyed by (window, user, type): bounded by the time
    span, not the row count, so a 100 TB replay holds only the open windows.
    """
    stream = _replay(spark, _events_src(spark, sf_dir))
    roll = (
        stream.groupBy(
            F.window("ts", "1 minute"), F.col("user_id"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("value_sum_cents"),
            F.max("cents").alias("value_max_cents"),
            F.min("cents").alias("value_min_cents"),
        )
        .select(
            F.col("window.start").alias("time"),
            "user_id",
            "event_type",
            "n_rows",
            "value_sum_cents",
            "value_max_cents",
            "value_min_cents",
        )
    )
    return _drain(spark, roll, "complete").orderBy("time", "user_id", "event_type")


# ------------------------------------------------ streaming top-N digests
def stream_top_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through a STREAMING per-digest aggregation and take the
    batch top-10 contract off the final state — must match the batch
    ``qan_top_digests`` oracle exactly.

    The reference's signature QAN query (02-Query_Analysis.ipynb
    get_top_queries) served from a live stream instead of a Druid scan:
    complete-mode state holds one row per digest (bounded by digest
    cardinality — ≤ perf-schema's 10k cap, reference
    `postgres/config/pg_stat_statements.conf:3` — regardless of event
    volume), and the rank/limit runs on the drained state, NOT inside the
    stream, so no per-batch global sort is paid.
    """
    stream = _replay(spark, _events_src(spark, sf_dir))
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("total_calls"),
        F.sum("cents").alias("total_value_cents"),
    )
    return (
        _drain(spark, agg, "complete")
        .withColumn(
            "avg_value",
            F.when(
                F.col("total_calls") > 0,
                (F.col("total_value_cents").cast("double") / 100.0)
                / F.col("total_calls"),
            ).otherwise(F.lit(0.0)),
        )
        .orderBy(F.desc("total_value_cents"), F.asc("event_type"))
        .limit(10)
    )


# ------------------------------------------------ stream-static enrichment
def stream_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched by a STATIC broadcast dimension (the
    nation table on ``user_id % 25``), then aggregated per nation — must
    match the equivalent batch join's oracle exactly.

    This pins the stream-static join path: the static side is planned as a
    broadcast against every micro-batch (no state, no watermark — Spark
    re-resolves the static relation per batch), which is how a live
    pipeline attaches slowly-changing dimension data to a hot stream
    without restarting it. State is only the per-nation aggregate (25
    rows), regardless of stream volume.
    """
    src = _events_src(spark, sf_dir)
    dim = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    stream = _replay(spark, src)
    joined = stream.join(
        F.broadcast(dim), stream.user_id % 25 == dim.n_nationkey
    )
    agg = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sum_cents"),
    )
    return _drain(spark, agg, "complete").orderBy("n_name")


ORACLE_stream_enrich_events = """
SELECT n_name, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events JOIN nation ON user_id % 25 = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


# ------------------------------------------- streaming stateless curation
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus quality gate run as a STATELESS append-mode stream over a
    documents replay — must match the batch ``corpus_quality_filter``
    oracle exactly.

    The gate is pure per-row codegen expressions (datapipe/curation.py
    quality_filter), so the streaming plan carries zero state: each
    micro-batch filters independently and appends. This is the shape of a
    live curation front-door — score documents as they land, no
    reprocessing — and the green row proves the batch and streaming gates
    can never drift (same Column expressions, same oracle).
    """
    from project_obsidian_core_spark.datapipe import curation as C

    stream = _replay(spark, _documents_src(spark, sf_dir, "doc_id", "text"), "4")
    gated = C.quality_filter(stream)
    return _drain(spark, gated, "append").orderBy("doc_id")


# ------------------------------------------------- streaming CDC MERGE
def stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC batches arriving on a STREAM applied to a base snapshot with
    MERGE semantics via foreachBatch — must match the batch
    ``orders_cdc_merge`` oracle exactly.

    The change feed (the same deterministic I/U/D batch, one op per key) is
    replayed as a file stream split across micro-batches; each batch runs
    ``merge_into_partitioned`` against a key-BUCKETED snapshot
    (``part_bucket=K`` leaves), rewriting ONLY the leaves its keys touch
    via the per-leaf two-rename protocol — the round-6 fix for the r5
    weak spot where every micro-batch rewrote the whole snapshot. One op
    per key makes the fold batch-order-independent, which is exactly why
    the gate can demand equality with the single-shot batch MERGE.

    This is the live table-maintenance loop a lakehouse runs: continuous
    upserts folding into a queryable snapshot; per batch the rewrite cost
    is |touched buckets| × bucket size, never the table size, and
    untouched leaves keep their exact files (pinned by
    tests/test_merge.py::test_partitioned_merge_leaves_untouched_buckets).
    """
    from project_obsidian_core_spark.operators.merge import (
        merge_into_partitioned,
        read_partitioned_snapshot,
        write_partitioned_snapshot,
    )
    from project_obsidian_core_spark.plans import cdc_queries as cdc

    tmp = tempfile.mkdtemp(prefix="obsidian_cdcstream_")
    base = cdc._orders_snapshot(spark, sf_dir)
    base_cols = base.columns
    changes_src = f"{tmp}/changes"
    # split the change feed into several file groups -> several micro-batches
    cdc._cdc_batch(base).repartition(4).write.mode("overwrite").parquet(changes_src)

    snap = f"{tmp}/snapshot"
    n_buckets = 8
    write_partitioned_snapshot(base, snap, keys=["o_orderkey"], n_buckets=n_buckets)

    schema = spark.read.parquet(changes_src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(changes_src)
    )

    def apply_batch(batch_df, batch_id: int) -> None:
        merge_into_partitioned(
            spark, snap, batch_df, keys=["o_orderkey"], n_buckets=n_buckets
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_partitioned_snapshot(spark, snap).select(base_cols).orderBy(
        "o_orderkey"
    )


# --------------------------------------------- streaming sliding windows
def stream_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The overlapping-window engagement aggregation run as a STREAMING
    complete-mode query — must match the batch
    ``events_sliding_active_users`` oracle exactly.

    Each event lands in 4 overlapping windows (1h span, 15min slide); the
    streaming state holds per-(window, user) partials that merge across
    micro-batches, so a green row pins that OVERLAPPING window state — not
    just tumbling — merges associatively. Exact distinct comes off the
    drained state via a second aggregation over the (window, user) pairs,
    the standard two-level shape for streaming COUNT(DISTINCT).
    """
    stream = _replay(spark, _events_src(spark, sf_dir))
    pairs = stream.groupBy(
        F.window("ts", "1 hour", "15 minutes"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        _drain(spark, pairs, "complete")
        .groupBy(F.unix_micros(F.col("window.start")).alias("win_start_us"))
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("win_start_us")
    )


# ------------------------------------------------- streaming chunking
def stream_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character chunking run as a STATELESS append-mode
    stream over a documents replay — must match the batch ``corpus_chunk``
    oracle exactly.

    Chunking is a pure per-row sequence+explode+substring (zero state,
    zero shuffle), so it composes with the streaming ingest front door
    unchanged: documents chunk as they land, each micro-batch
    independently — the live RAG/embedding-index feed. The green row
    proves the batch and streaming chunkers can never drift (same
    operator, same oracle)."""
    from project_obsidian_core_spark.datapipe import pipeline as P
    from project_obsidian_core_spark.plans.pipeline_queries import (
        _CHUNK_OVERLAP,
        _CHUNK_SIZE,
    )

    stream = _replay(spark, _documents_src(spark, sf_dir, "doc_id", "text"), "4")
    chunked = P.chunk_documents(
        stream, size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    )
    return _drain(spark, chunked, "append").orderBy("doc_id", "chunk_idx")


# --------------------------------------------------- streaming OHLC twin --
def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the synthesized metrics stream through a STREAMING OHLC
    candle aggregation — must match the batch ``metric_ohlc`` oracle
    exactly.

    The batch operator picks open/close via tie-safe row_number windows;
    a stream cannot (row order across micro-batches is not a thing), so
    the twin re-expresses first/last as min/max over struct(time, value)
    — an associative, commutative, MERGEABLE aggregate whose tie order
    (time ASC then value ASC for open; both DESC for close) is exactly
    the batch tiebreaker. A green row therefore pins that the candle
    build is arrival-order-independent: partial candles merge across
    micro-batches into the same bit-exact result the batch plan computes,
    which is what lets a 100 TB backfill and a live tail share one
    operator. State is one row per (metric, open bucket) — bounded by
    time span x series cardinality, never by row volume.
    """
    stream = _replay(spark, _events_src(spark, sf_dir))
    rows = stream.select(
        _metric_name(),
        (F.expr("unix_micros(ts) div 300000000") * F.lit(300)).alias(
            "bucket_epoch_s"
        ),
        F.col("ts").alias("time"),
        F.col("cents").alias("v"),
    )
    agg = rows.groupBy("metric_name", "bucket_epoch_s").agg(
        F.min(F.struct("time", "v")).alias("_open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.max(F.struct("time", "v")).alias("_close"),
        F.sum("v").alias("volume"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    return (
        _drain(spark, agg, "complete")
        .select(
            "metric_name",
            "bucket_epoch_s",
            F.col("_open.v").alias("open"),
            "high",
            "low",
            F.col("_close.v").alias("close"),
            "volume",
            "n_samples",
        )
        .orderBy("metric_name", "bucket_epoch_s")
    )


# --------------------------------------------- C23: streaming KS twin --
def stream_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C23: the A35 KS drift screen served from a LIVE stream — per-(type,
    value) cohort counts accumulate as complete-mode state across
    micro-batches (counts are associative, so arrival order is
    irrelevant), and the CDF walk + sup-gap runs on the DRAINED state,
    not inside the stream (the stream_top_digests shape: no per-batch
    global sort).  Must match the batch ``events_ks_test`` oracle
    bit-exact — streaming <-> batch equivalence for drift monitoring.

    State bound: one row per (event_type, distinct value).  For truly
    continuous live metrics quantize the value to a fixed grid first (the
    A32 PSI rationale); the equivalence contract here is on the exact
    value space."""
    stream = _replay(spark, _events_src(spark, sf_dir))
    agg = stream.select(
        "event_type",
        "value",
        F.when(F.col("user_id") % 2 == 0, F.lit(1)).otherwise(F.lit(0)).alias("ca"),
        F.when(F.col("user_id") % 2 == 1, F.lit(1)).otherwise(F.lit(0)).alias("cb"),
    ).groupBy("event_type", "value").agg(
        F.sum("ca").cast("long").alias("da"),
        F.sum("cb").cast("long").alias("db"),
    )

    per_val = _drain(spark, agg, "complete")
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
            F.max(
                F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
            ).alias("ks_num"),
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


# ----------------------------------- T17: streaming discovery timeline --
def stream_discovery_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38 served LIVE: replay events through the stateful per-user
    discovery fold (streaming/discovery_state.py) and read the timeline
    off the drained state — must match the batch
    ``events_discovery_timeline`` oracle bit-exact.

    The emission contract is superseding versioned sets (an out-of-order
    batch carrying an EARLIER first occurrence retroactively reshuffles a
    user's whole rank order, so per-user the fold re-emits the full
    timeline with a higher version); the drained read takes each user's
    max-version rows — the same reader contract as the islands/top-k
    state operators. State is one (type, ts, id) triple per type a user
    ever used, independent of event volume.
    """
    from project_obsidian_core_spark.streaming.discovery_state import (
        streaming_discovery,
    )

    stream = _replay(spark, _events_src(spark, sf_dir), "4")
    out = streaming_discovery(
        stream.select("user_id", "event_type", "ts", "event_id")
    )

    latest = _latest(_drain(spark, out, "append"), "user_id")
    return latest.select(
        "user_id",
        "event_type",
        F.timestamp_micros("first_ts_us").alias("first_ts"),
        "first_event_id",
        "discovery_rank",
    ).orderBy("user_id", "discovery_rank")


# --------------------------------------- T13: streaming interval islands --
def stream_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29 served LIVE: the same synthesized per-type intervals as the
    batch ``events_interval_merge``, folded by the stateful island
    splice (streaming/interval_state.py) — must match the batch oracle
    bit-exact, pinning that the canonical island set is arrival-order
    independent (any interval permutation splices to the same cover).

    Drained read = max-version rows per type (no eviction here: the
    replay is unwatermarked, so every island is still live state). The
    batch output's island_id / covered_us are derived from the drained
    bounds — id by start order, coverage = span — because the state
    operator keeps only the canonical (start, end, n) triples.
    """
    from project_obsidian_core_spark.streaming.interval_state import (
        streaming_islands,
    )

    stream = _replay(spark, _events_src(spark, sf_dir), "4")
    iv = stream.select(
        "event_type",
        F.unix_micros("ts").alias("start_us"),
        (
            F.unix_micros("ts")
            + (F.floor("value").cast("long") + 1) * F.lit(60_000_000)
        ).alias("end_us"),
    )
    out = streaming_islands(iv, ["event_type"])

    latest = _latest(_drain(spark, out, "append"), "event_type")
    wid = Window.partitionBy("event_type").orderBy("island_start_us")
    return latest.select(
        "event_type",
        F.row_number().over(wid).cast("long").alias("island_id"),
        F.timestamp_micros("island_start_us").alias("island_start"),
        F.timestamp_micros("island_end_us").alias("island_end"),
        "n_intervals",
        (F.col("island_end_us") - F.col("island_start_us")).alias("covered_us"),
    ).orderBy("event_type", "island_id")


# ----------------------------- T14: streaming top-k (exact-capacity gate) --
_TOPK_SHARDS = 8
_TOPK_CAPACITY = 4096  # >= per-shard distinct keys at gate scale -> exact
_TOPK_N = 20


def stream_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14 gated at its EXACT operating point: the Space-Saving summary
    degenerates to exact per-key counting whenever per-shard distinct
    keys ≤ capacity (no eviction ever fires, every err_bound stays 0) —
    so the drained state must equal a plain COUNT GROUP BY, a
    batch-SQL-expressible contract the driver can gate.

    This is the sketch analogue of the C23 move (gate the streaming
    operator where its semantics coincide with an oracle-expressible
    batch query): the approximation regime's guarantees stay pinned by
    the skewed-replay unit tests; THIS row proves the fold, sharding,
    versioned emission and drained max-version read end to end on real
    data. Top-N users by event count, exact ints, user_id tiebreak; the
    gate also asserts err_bound drained to 0 by summing it into the
    output (any eviction would poison the hash).
    """
    from project_obsidian_core_spark.streaming.topk_state import streaming_topk

    stream = _replay(spark, _events_src(spark, sf_dir), "4")
    keyed = stream.select(F.col("user_id").cast("string").alias("user_key"))
    out = streaming_topk(
        keyed, key_col="user_key",
        n_shards=_TOPK_SHARDS, capacity=_TOPK_CAPACITY,
    )

    latest = _latest(_drain(spark, out, "append"), "shard")
    # each key lives in exactly one shard, so the drained summaries union
    # without reconciliation; err_bound rides along so any eviction
    # (est != exact) breaks the value hash loudly
    return (
        latest.select(
            F.col("key").cast("long").alias("user_id"),
            F.col("est_count").alias("n_events"),
            "err_bound",
        )
        .orderBy(F.desc("n_events"), "user_id")
        .limit(_TOPK_N)
    )


ORACLE_stream_topk_exact = f"""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(0 AS BIGINT) AS err_bound
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT {_TOPK_N}
"""


# ------------------------------------------ T18: streaming quantile sketch
#: level-0 capacity for the exact-operating-point gate: must exceed the
#: largest per-type event count at any gated SF (20,302 at sf0.1) so no
#: compaction fires and the sketch IS the sorted sample.
_QUANT_CAPACITY = 32768


def stream_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18 gated at its EXACT operating point: while per-key items <=
    level-0 capacity the deterministic-KLL ladder never compacts,
    err_bound stays 0, and each emitted quantile is the batch lower
    order statistic (value at rank ceil(q*n)) — a window-SQL-expressible
    contract. The approximation regime (multi-level ladders, rank error
    <= the emitted err_bound) stays unit-pinned; THIS row proves the
    fold, state round-trip, versioned emission and drained max-version
    read end to end on real data. Values floor-quantized to micro-units
    (the repo-wide double rule); err_bound rides in the output so any
    compaction would poison the hash.
    """
    from project_obsidian_core_spark.streaming.quantile_state import (
        streaming_quantiles,
    )

    stream = _replay(spark, _events_src(spark, sf_dir), "4")
    keyed = stream.select(
        F.col("event_type"),
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("v_micro"),
    )
    out = streaming_quantiles(
        keyed, series_col="event_type", value_col="v_micro",
        capacity=_QUANT_CAPACITY,
    )

    latest = _latest(_drain(spark, out, "append"), "series")
    return latest.select(
        "series", "q_pct", "value", "n", "err_bound"
    ).orderBy("series", "q_pct")


ORACLE_stream_quantiles_exact = """
WITH v AS (
    SELECT event_type AS series,
           CAST(floor(value * 1000000) AS BIGINT) AS v
    FROM events
), r AS (
    SELECT series, v,
           row_number() OVER (PARTITION BY series ORDER BY v) AS rn,
           count(*) OVER (PARTITION BY series) AS n
    FROM v
), qs AS (SELECT unnest([50, 90, 99]) AS q_pct)
SELECT series, q_pct,
       min(CASE WHEN rn = greatest(1, CAST(ceil((q_pct / 100.0) * n) AS BIGINT))
                THEN v END) AS value,
       CAST(min(n) AS BIGINT) AS n,
       CAST(0 AS BIGINT) AS err_bound
FROM r CROSS JOIN qs
GROUP BY series, q_pct
ORDER BY series, q_pct
"""


# ---------------------------------------- T19: streaming priority sample
def stream_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19: the C24 budgeted weighted sampler as a stateful stream —
    keep-k-smallest is a commutative fold, so the drained max-version
    state is BIT-IDENTICAL to the batch sampler on the same rows (full
    regime, no exact-capacity restriction; gated against the SAME
    oracle as `corpus_priority_sample`). Exactly-k per source, odds ~
    n_chars, O(k) state per group forever.
    """
    from project_obsidian_core_spark.streaming.sample_state import (
        streaming_priority_sample,
    )

    src = _documents_src(spark, sf_dir, "doc_id", "source", "n_chars")
    stream = _replay(spark, src, "2")
    out = streaming_priority_sample(
        stream, k=4, weight=F.col("n_chars"), group_col="source"
    )

    latest = _latest(_drain(spark, out, "append"), "grp")
    return latest.select(
        F.col("grp").alias("source"),
        F.col("id").alias("doc_id"),
        F.col("weight").alias("n_chars"),
        "prio",
    ).orderBy("source", "prio", "doc_id")


# --------------------- T20: ordered-sequence state (Markov transitions) ----
def stream_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T20: the A40 transition matrix served LIVE through
    ORDER-RECONSTRUCTING state (streaming/sequence_state.py) — per user
    the (ts, event_id)-sorted event sequence itself is the state, so
    arbitrary micro-batch arrival order rebuilds the identical
    adjacency and the drained matrix gates on the BATCH
    `events_markov_transitions` oracle bit-exactly: the
    streaming↔batch proof for the repo's first ORDER-DEPENDENT fold
    (every prior stateful twin folded order-free state).

    Drain: max-version rows per user are that user's final transition
    counts; summing across users and attaching the per-prev totals
    (broadcast-sized window over ≤|types|² rows) reproduces the batch
    shape exactly.
    """
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_transitions,
    )

    stream = _replay(spark, _events_src(spark, sf_dir), "4")
    out = streaming_transitions(stream)

    latest = _latest(_drain(spark, out, "append"), "user_id")
    mat = latest.groupBy("prev_type", "next_type").agg(
        F.sum("n").alias("n_transitions")
    )
    wrow = Window.partitionBy("prev_type")
    return mat.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.sum("n_transitions").over(wrow).alias("row_total"),
        F.expr(
            "n_transitions * 1000000 div sum(n_transitions) over "
            "(partition by prev_type)"
        ).alias("prob_ppm"),
    ).orderBy("prev_type", "next_type")


# -------------------- T21: streaming anchored-window funnel (A44 live) ----
def stream_sequence_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21: the A44 anchored-window funnel served LIVE through the SAME
    ordered-sequence state as T20 — the second consumer proving the
    state shape generalizes: out-of-order delivery (a user's purchase
    arriving before their anchor view) still converges, because stage
    progress is re-derived from the reconstructed sequence on every
    emit.  Gates on the batch `events_sequence_funnel` oracle: the
    drained max-version per-user progress, folded to per-stage user
    counts, must equal the batch greedy exactly."""
    from project_obsidian_core_spark.plans.behavior_queries import (
        _SEQ_WINDOW_US,
        _STAGES,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_sequence_funnel,
    )

    stream = _replay(spark, _events_src(spark, sf_dir), "4")
    out = streaming_sequence_funnel(stream, _STAGES, _SEQ_WINDOW_US)

    latest = _latest(_drain(spark, out, "append"), "user_id")
    agg = latest.agg(
        *[
            F.sum((F.col("max_stage") >= i).cast("long")).alias(f"s{i}")
            for i in range(1, len(_STAGES) + 1)
        ]
    )
    rows = None
    for i, stage in enumerate(_STAGES, start=1):
        row = agg.select(
            F.lit(i).alias("stage_idx"),
            F.lit(stage).alias("stage"),
            F.coalesce(F.col(f"s{i}"), F.lit(0)).cast("long").alias("n_users"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("stage_idx")


# ----------------------- T22: streaming gap sessionization (A25 live) ----
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T22: gap-based sessionization served LIVE through the
    order-reconstructing state — THIRD consumer (after T20/T21),
    closing the claim that ONE state shape serves the whole
    sequence-analytics family.  A late-arriving middle event that
    BRIDGES two apparent sessions re-merges them on the next emit
    (revision semantics, where `session_window` + watermark would have
    finalized the split).  Gates on the batch `sessionize_events`
    oracle: drained max-version sessions must equal the batch
    lag-window sessionization bit-exactly."""
    from project_obsidian_core_spark.plans.pipeline_queries import (
        _SESSION_GAP_US,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_gap_sessions,
    )

    stream = _replay(spark, _events_src(spark, sf_dir), "4")
    out = streaming_gap_sessions(stream, _SESSION_GAP_US)

    latest = _latest(_drain(spark, out, "append"), "user_id")
    return latest.select(
        "user_id",
        "session_idx",
        "session_start_us",
        "session_end_us",
        "n_events",
        "value_sum",
    ).orderBy("user_id", "session_idx")


def _events_src_ordered(
    spark: SparkSession, sf_dir: str, n_chunks: int = 6
) -> str:
    """Materialize (once per process) the events table as ``n_chunks``
    parquet files covering CONSECUTIVE event-time ranges, with strictly
    increasing mtimes so the file stream source replays them in
    event-time order (one file per trigger).

    The evict-mode consumers' finalization contract — "every future row
    has ts ≥ watermark" — holds on a real ordered transport (Kafka with
    in-order producers, a log tailer) but NOT on an arbitrary-order file
    replay, where a later batch can deliver rows below the watermark a
    finalized session would have needed.  Range-chunked replay restores
    the transport's ordering guarantee: chunk k's rows are all ≥ chunk
    k-1's max, so the watermark (max − delay after batch k-1) never
    overtakes unseen data.  The chunking is a driver-side loop over a
    CONSTANT number of bounded Spark jobs (6 range filters), not a
    per-row driver pass.  An empty events table gives one zero-row file,
    so the replay still has a schema and runs one batch."""
    key = f"events_ordered:{sf_dir}"
    src = _SRC_CACHE.get(key)
    if src is not None:
        return src
    base = tempfile.mkdtemp(prefix="obsidian_evord_")
    src = f"{base}/events_src"
    os.makedirs(src)
    ev = _events(spark, sf_dir)
    lo, hi = ev.selectExpr(
        "min(unix_micros(ts))", "max(unix_micros(ts))"
    ).first()
    if lo is None:  # no events: one chunk, written with zero rows
        lo, hi, n_chunks = 0, 0, 1
    span = int(hi) - int(lo) + 1
    now = time.time()
    n_files = 0
    for i in range(n_chunks):
        a = int(lo) + (span * i) // n_chunks
        b = int(lo) + (span * (i + 1)) // n_chunks
        chunk_dir = f"{base}/chunk_{i}"
        (
            ev.filter(
                (F.unix_micros("ts") >= a) & (F.unix_micros("ts") < b)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(chunk_dir)
        )
        parts = [
            p for p in os.listdir(chunk_dir) if p.endswith(".parquet")
        ]
        if not parts:  # empty time slice
            continue
        dst = f"{src}/{n_files:05d}.parquet"
        os.rename(f"{chunk_dir}/{parts[0]}", dst)
        # strictly increasing mtimes pin the file source's replay order
        os.utime(dst, (now + 60 * n_files, now + 60 * n_files))
        n_files += 1
    _SRC_CACHE[key] = src
    return src


# ---------- T22e: gap sessionization with WATERMARK EVICTION, gated ------
def stream_sessionize_evict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T22e: the EVICT-mode gap sessionization served live — the first
    driver-GATED eviction path (the three ``evict=True`` contracts were
    unit-pinned only until r12; the r11 verdict's Next #4).  A session
    whose end + gap < watermark can never be extended, joined, or split
    by any future row, so it is emitted once with ``is_final=True`` and
    its rows LEAVE state — per-key state holds only the open horizon, the
    unbounded-stream mode (the plain ``stream_sessionize`` twin keeps
    whole histories).  Replay is event-time-ordered range chunks (see
    :func:`_events_src_ordered` — the transport-order precondition the
    finalization proof needs).  Drained read = finals ∪ per-user
    max-version live rows, which the eviction contract proves ≡ the
    batch lag-window sessionization (`tests/test_sequence_evict.py`);
    gated bit-exact on the SAME batch `sessionize_events` oracle as the
    non-evicting twin.  Finals take PRECEDENCE by (user_id,
    session_idx): a timeout flush (r13 — quiescent keys close via
    EventTimeTimeout) finalizes sessions whose last live frame may
    remain the max-version one, so live rows anti-join the finals."""
    emitted = _sessionize_evict_emitted(spark, sf_dir)
    cols = [
        "user_id",
        "session_idx",
        "session_start_us",
        "session_end_us",
        "n_events",
        "value_sum",
    ]
    # one window pass instead of a finals/live self-join (conflicting
    # refs on the memory view — the funnel-drain precedent): per
    # (user, session_idx) a final row wins; otherwise the user's
    # max-LIVE-version row
    wuser = Window.partitionBy("user_id")
    wkey = Window.partitionBy("user_id", "session_idx")
    return (
        emitted.withColumn(
            "_lvmax",
            F.max(
                F.when(~F.col("is_final"), F.col("version"))
            ).over(wuser),
        )
        .withColumn(
            "_hasf", F.max(F.col("is_final").cast("int")).over(wkey)
        )
        .filter(
            F.col("is_final")
            | (F.col("_hasf") == 0)
            & (F.col("version") == F.col("_lvmax"))
        )
        .select(*cols)
        .orderBy("user_id", "session_idx")
    )


def _sessionize_evict_emitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw evict-mode emission (finals + every live version) — split
    out so the eviction-fires unit can assert ``is_final`` rows exist in
    the registered plan's own replay, not just in the synthetic-burst
    contract tests."""
    from project_obsidian_core_spark.plans.pipeline_queries import (
        _SESSION_GAP_US,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_gap_sessions,
    )

    src = _events_src_ordered(spark, sf_dir)
    stream = (
        _replay(spark, src, "1")
        .withWatermark("ts", "1 minute")
    )
    out = streaming_gap_sessions(stream, _SESSION_GAP_US, evict=True)

    return _drain(spark, out, "append")


# ---------- T21e: anchored funnel with WATERMARK EVICTION, gated ----------
def stream_funnel_evict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21e gated: the evict-mode anchored funnel served live — SECOND
    driver-gated eviction path (after T22e's sessions).  A user whose
    anchor + deadline < watermark can never change stage (the anchor is
    frozen once below the watermark, and no future row can land in the
    deadline window), so their ``max_stage`` is emitted once with
    ``is_final=True``, the event rows leave state, and a 1-flag
    tombstone absorbs later traffic; unfinalized users carry only the
    provably-live state slice (see ``freeze_funnel``).  Replay is
    event-time-ordered range chunks (:func:`_events_src_ordered`).
    Drain = finals ∪ max-version live rows of users WITHOUT a final
    (per-user scalar: a final supersedes the user's live history),
    folded to per-stage user counts and gated bit-exact on the SAME
    batch `events_sequence_funnel` oracle as the non-evicting T21."""
    from project_obsidian_core_spark.plans.behavior_queries import _STAGES

    emitted = _funnel_evict_emitted(spark, sf_dir)
    # one window pass instead of a finals/live self-join (conflicting
    # refs on the memory view): a user's final row supersedes their
    # whole live history; otherwise take their max-version live row
    wmax = Window.partitionBy("user_id")
    latest = (
        emitted.withColumn(
            "_has_final", F.max(F.col("is_final").cast("int")).over(wmax)
        )
        .withColumn("_vmax", F.max("version").over(wmax))
        .filter(
            (F.col("_has_final") == 1) & F.col("is_final")
            | (F.col("_has_final") == 0)
            & (F.col("version") == F.col("_vmax"))
        )
        .select("user_id", "max_stage")
    )
    agg = latest.agg(
        *[
            F.sum((F.col("max_stage") >= i).cast("long")).alias(f"s{i}")
            for i in range(1, len(_STAGES) + 1)
        ]
    )
    rows = None
    for i, stage in enumerate(_STAGES, start=1):
        row = agg.select(
            F.lit(i).alias("stage_idx"),
            F.lit(stage).alias("stage"),
            F.coalesce(F.col(f"s{i}"), F.lit(0)).cast("long").alias("n_users"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("stage_idx")


def _funnel_evict_emitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw evict-mode funnel emission — split out so the
    eviction-fires unit can assert finals exist in the registered
    plan's own replay (the sessionize-evict precedent)."""
    from project_obsidian_core_spark.plans.behavior_queries import (
        _SEQ_WINDOW_US,
        _STAGES,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_sequence_funnel,
    )

    src = _events_src_ordered(spark, sf_dir)
    stream = (
        _replay(spark, src, "1")
        .withWatermark("ts", "1 minute")
    )
    out = streaming_sequence_funnel(
        stream, _STAGES, _SEQ_WINDOW_US, evict=True
    )

    return _drain(spark, out, "append")


# ---------- T24e: as-of join with WATERMARK EVICTION, gated (r13) --------
def stream_asof_join_evict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T24e: the evict-mode as-of join served live — THIRD and last
    driver-gated eviction path (sessions and funnel landed in r12; the
    r12 verdict's Next #1).  A click below the watermark is FINAL (any
    unseen purchase is either ≥ wm — strictly after it, never as-of
    eligible — or dropped as late), so it is matched against the full
    purchase map, emitted once with ``is_final=True``, and leaves
    state; among frozen purchases only the latest survives as the
    anchor for live/future clicks.  Unlike the windowed twins this
    eviction is LOSSLESS — finals ∪ max-version live ≡ the batch ASOF
    join exactly (``freeze_asof`` docstring has the proof; unit-pinned
    incl. the idle-key EventTimeTimeout flush in
    tests/test_sequence_evict.py).  Replay is event-time-ordered range
    chunks (:func:`_events_src_ordered` — the transport-order
    precondition).  Drain: finals take PRECEDENCE by event_id (a
    timeout flush finalizes clicks whose last live frame may remain the
    max-version one); gated bit-exact on the SAME DuckDB native ``ASOF
    LEFT JOIN`` oracle as the batch `events_asof_join`."""
    emitted = _asof_evict_emitted(spark, sf_dir)
    cols = [
        "event_id",
        "user_id",
        "ts_us",
        "cents",
        "last_purchase_us",
        "last_purchase_cents",
    ]
    # single window pass, finals-precedence by event_id (see the
    # sessionize-evict drain note on memory-view self-joins)
    wuser = Window.partitionBy("user_id")
    weid = Window.partitionBy("event_id")
    return (
        emitted.withColumn(
            "_lvmax",
            F.max(
                F.when(~F.col("is_final"), F.col("version"))
            ).over(wuser),
        )
        .withColumn(
            "_hasf", F.max(F.col("is_final").cast("int")).over(weid)
        )
        .filter(
            F.col("is_final")
            | (F.col("_hasf") == 0)
            & (F.col("version") == F.col("_lvmax"))
        )
        .select(*cols)
        .orderBy("event_id")
    )


def _asof_evict_emitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw evict-mode as-of emission — split out so the
    eviction-fires unit can assert finals exist in the registered
    plan's own replay (the sessionize/funnel-evict precedent)."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_asof_join,
    )

    src = _events_src_ordered(spark, sf_dir)
    stream = (
        _replay(spark, src, "1")
        .withWatermark("ts", "1 minute")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            "ts",
            "cents",
            F.when(F.col("event_type") == "click", F.lit("L"))
            .otherwise(F.lit("R"))
            .alias("side"),
        )
    )
    out = streaming_asof_join(stream, evict=True)

    return _drain(spark, out, "append")


# -------------------- T23: streaming dual-EWMA (W3 live, bit-exact) ------
def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T23: the W3 governor EWMA recursion served LIVE and gated on the
    batch `metric_ewma` oracle — the order-reconstruction idea extended
    to FLOAT RECURSIONS: state = exact-int per-bucket sums (commutative
    fold, arrival-order free), the order-dependent float fold replays
    over the reconstructed series on every emit. Out-of-order bucket
    delivery that would silently corrupt a scalar-state EWMA converges
    here to the batch value bit-exactly."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_ewma,
    )

    latest = _replay_metric_series(spark, sf_dir, _MINUTE, streaming_ewma)
    return latest.select(
        "metric_name", "n_buckets", "ewma_fast", "ewma_slow"
    ).orderBy("metric_name")


# ----------------------- T24: streaming as-of join (J-family live) --------
def stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T24: the as-of join served LIVE through two-sided order-
    reconstructing state (streaming/sequence_state.py) — per user the
    click sequence AND the (ts → max cents) purchase map are the state,
    and every emit re-matches all clicks, so a purchase delivered AFTER
    the clicks it anchors revises them instead of being dropped (the
    watermark-interval stream-stream join's documented loss mode).
    Gates on the IDENTICAL DuckDB native ``ASOF LEFT JOIN`` oracle as
    the batch `events_asof_join` — the strongest streaming↔batch
    equivalence available for a temporal join.

    Drain: max-version rows per user are that user's final matches;
    the batch oracle's row set is exactly the final click inventory.
    """
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_asof_join,
    )

    src = _events_src(spark, sf_dir)
    stream = (
        _replay(spark, src, "4")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            "ts",
            "cents",
            F.when(F.col("event_type") == "click", F.lit("L"))
            .otherwise(F.lit("R"))
            .alias("side"),
        )
    )
    out = streaming_asof_join(stream)

    latest = _latest(_drain(spark, out, "append"), "user_id")
    return latest.select(
        "event_id",
        "user_id",
        "ts_us",
        "cents",
        "last_purchase_us",
        "last_purchase_cents",
    ).orderBy("event_id")


# ---------------- T25: streaming Pettitt change point (A66 live) ----------
def stream_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T25: the A66 rank-based change point served LIVE — SIXTH consumer
    of the sequence-state family and its first RANK recursion: state is
    the exact-int per-HOUR sums (T23's commutative fold), and every emit
    re-derives the full rank structure (strictly-less counts, tie sizes,
    the K_t prefix walk) from the reconstructed series, because one late
    bucket can re-rank every other point — no incremental scalar state
    survives that. Drained max-version rows gate on the batch
    `metric_pettitt` DuckDB oracle."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_pettitt,
    )

    latest = _replay_metric_series(spark, sf_dir, _HOUR, streaming_pettitt)
    return latest.select(
        "metric_name", "n_buckets", "last_hour_of_seg1", "k_signed", "k_stat"
    ).orderBy("metric_name")


# ---------------- T26: streaming Bollinger breakouts (A72 live) -----------
def stream_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T26: the A72 exact-int volatility-band breakout served LIVE —
    SEVENTH consumer of the bucket-sum state family and its first
    POSITIONAL-WINDOW recursion: the trailing ROWS frame means one late
    hour shifts every subsequent window's membership, so each emit
    re-scans the reconstructed series (O(series) rolling S/Q scan) and
    can create, move, or RETRACT breakouts.  Retraction is why
    zero-breakout versions emit a NULL-hour sentinel (an empty emission
    could never supersede under the max-version drain — the sentinel
    carries the version, the drain drops it).  Drained rows gate on the
    batch `metric_bollinger` DuckDB oracle bit-exactly."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_bollinger,
    )

    latest = _replay_metric_series(spark, sf_dir, _HOUR, streaming_bollinger)
    # the drain drops the NULL-hour retraction sentinels
    latest = latest.filter(F.col("hour").isNotNull())
    return latest.select(
        "metric_name", "hour", "value_cents", "dev_num", "var_num", "is_upper"
    ).orderBy("metric_name", "hour")


# ---------------- T27: streaming max drawdown (A75 live) ------------------
def stream_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27: the A75 running-peak drawdown served LIVE — EIGHTH consumer
    of the bucket-sum state family, its first PATH statistic: drawdown
    is a function of the whole ordered series (a late early bucket can
    raise every later peak or fill the trough), so each emit re-walks
    the reconstructed series and the drained max-version rows gate on
    the batch `metric_drawdown` DuckDB oracle bit-exactly."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_drawdown,
    )

    latest = _replay_metric_series(spark, sf_dir, _HOUR, streaming_drawdown)
    return latest.select(
        "metric_name",
        "n_hours",
        "trough_hour",
        "peak_cents",
        "trough_cents",
        "drawdown_cents",
    ).orderBy("metric_name")


# ---------------- T29: streaming two-sided CUSUM (A43 live) ---------------
def stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T29: the A43 two-sided CUSUM drift curve served LIVE — NINTH
    bucket-sum-state consumer, second PATH statistic after T27: every
    deviation is against the global series mean, so each arrival shifts
    the whole curve; the emit re-derives all rows (stale-mean scalar
    state is exactly the silent corruption this family exists to
    avoid).  Drained max-version rows gate on the batch `metric_cusum`
    DuckDB oracle bit-exactly."""
    from project_obsidian_core_spark.plans.metrics_queries import (
        _OHLC_BUCKET_S,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_cusum,
    )

    bucket = (
        f"unix_micros(ts) div {_OHLC_BUCKET_S * 1_000_000} * {_OHLC_BUCKET_S}"
    )
    latest = _replay_metric_series(spark, sf_dir, bucket, streaming_cusum)
    return latest.select(
        "metric_name",
        "bucket_epoch_s",
        "v_cents",
        "cusum_pos",
        "cusum_neg",
    ).orderBy("metric_name", "bucket_epoch_s")


# ---------------- T30: streaming Holt level+trend (A53 live) --------------
def stream_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T30: the A53 Holt double-exponential smoother served LIVE — the
    first COUPLED float recursion in the streaming family (T23's EWMA
    is single-state; here level and trend feed each other, and a late
    bucket re-seeds the trend init and shifts every later step).  State
    is the commutative exact-int hour sums; each emit replays the
    identical IEEE chain the batch fold evaluates.  Drained max-version
    rows gate on the batch `metric_holt` recursive-CTE oracle
    bit-exactly."""
    from project_obsidian_core_spark.plans.metrics_queries import (
        HOLT_ALPHA,
        HOLT_BETA,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_holt,
    )

    latest = _replay_metric_series(
        spark, sf_dir, _HOUR, streaming_holt, HOLT_ALPHA, HOLT_BETA
    )
    return latest.select(
        "metric_name",
        "n_buckets",
        "level",
        "trend",
        "forecast_next",
    ).orderBy("metric_name")


# ---------------- T31: streaming autocorrelation (A48 live) ---------------
def stream_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T31: the A48 lag-1..5 ACF table served LIVE — one new/late bucket
    moves the global min (the exact-int centering anchor) and
    creates/destroys bucket-index pairs at every lag, so the emit
    re-derives the whole lag table; drained max-version rows gate on
    the batch `metric_acf` DuckDB oracle bit-exactly (including the one
    float division/sqrt per row — identical IEEE chain)."""
    from project_obsidian_core_spark.plans.metrics_queries import (
        _ACF_MAX_LAG,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_acf,
    )

    latest = _replay_metric_series(
        spark, sf_dir, _MINUTE, streaming_acf, _ACF_MAX_LAG
    )
    return latest.select(
        "metric_name",
        "lag",
        "n",
        "acf_num",
        "var_a_num",
        "var_b_num",
        "acf",
    ).orderBy("metric_name", "lag")


# ---------------- T32: streaming Theil-Sen robust trend (A51 live) --------
def stream_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T32: the A51 median-of-pairwise-slopes robust trend served LIVE —
    a late bucket adds n−1 pairs and moves the median rank, so the
    estimator re-derives per emit (numpy-vectorized over the
    retention-bounded hour grid).  Drained max-version rows gate on the
    batch `metric_theil_sen` DuckDB oracle bit-exactly."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_theil_sen,
    )

    latest = _replay_metric_series(spark, sf_dir, _HOUR, streaming_theil_sen)
    return latest.select(
        "metric_name",
        "n_buckets",
        "n_pairs",
        "median_slope_cents_per_hour",
    ).orderBy("metric_name")


# ---------------- T28: streaming Mann-Whitney U (A64 live) ----------------
def stream_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T28: the A64 exact rank-sum drift test served LIVE — the first
    TWO-SAMPLE rank statistic in the state family: per event type the
    state is the pair of per-value cohort counters (commutative folds,
    arrival-order free) and every emit re-derives the full rank algebra
    (one late value re-ranks everything above it). Drained max-version
    rows gate on the batch `events_mannwhitney` DuckDB oracle
    bit-exactly, z included."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_mannwhitney,
    )

    src = _events_src(spark, sf_dir)
    stream = (
        _replay(spark, src, "4")
        .select(
            "event_type",
            "value",
            (F.col("user_id") % 2 == 0).alias("is_a"),
        )
    )
    out = streaming_mannwhitney(stream)

    latest = _latest(_drain(spark, out, "append"), "event_type")
    return latest.select(
        "event_type", "n_a", "n_b", "r_a_x2", "u_a_x2", "tie_term", "z"
    ).orderBy("event_type")


# ---------------- T33: streaming count-min sketch (staged r13) ------------
def stream_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T33: the A88 count-min sketch SERVED LIVE — counters build as a
    complete-mode streaming aggregation over the exploded (r, bucket)
    probes, so partial per-batch counter states MERGE across
    micro-batches; the drained 4096-row counter table then feeds the
    identical `cms_report` audit, gated on the identical batch oracle.
    A green row is the mergeability proof CMS's production deployment
    rests on (per-executor sketches later `+`-merged are exactly
    micro-batch states merged here): counters are commutative integer
    sums, so stream-built ≡ batch-built BIT-EXACTLY, never approximately.

    State is d·w = 4096 rows REGARDLESS of key cardinality or replay
    length — the whole point of the sketch as a streaming operator
    (A27's exact top-k state grows with distinct keys; T14's
    Space-Saving bounds keys but not error; the CMS bounds MEMORY and
    error and stays mergeable).  The exact recount audit runs batch on
    the replayed table, as in A88 — a production reader probes the
    drained sketch alone."""
    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        cms_keyed,
        cms_probes,
        cms_report,
    )

    stream = _replay(spark, _events_src(spark, sf_dir), "4")
    counters_s = (
        cms_keyed(stream)
        .select(F.explode(cms_probes()).alias("p"))
        .groupBy(F.col("p.r").alias("r"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    counters = _drain(spark, counters_s, "complete")
    keyed = cms_keyed(load(spark, sf_dir, "events"))
    return cms_report(keyed, counters)


# ---------------- T34: streaming KMV distinct sketch (staged r13) ----------
def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T34: the A87 KMV sketch SERVED LIVE — T33's bounded-state
    companion on the other classic sketch axis (CMS bounds frequency
    state; KMV bounds DISTINCT-count state at ≤ k int64s per group
    forever).  The k-minima fold merges associatively/commutatively
    across micro-batches (`trunc_k(minima ∪ minima)`), so the drained
    kth-hash is bit-equal to the batch scan's — proven by gating on the
    IDENTICAL A87 oracle; the exact-count audit columns join batch-side
    exactly as T33's recount does (a production reader drains the ≤ k
    hashes alone).  A green row is the mergeability proof per-executor
    KMV union rests on."""
    from project_obsidian_core_spark.datapipe.text import shared_hash60
    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        _KMV_K,
        _KMV_RANGE,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_kmv,
    )

    stream = _replay(spark, _events_src(spark, sf_dir), "4")
    hashed_s = stream.select(
        "event_type",
        shared_hash60(
            F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
        ).alias("h"),
    )
    out = streaming_kmv(hashed_s, k=_KMV_K)

    sk = _latest(_drain(spark, out, "append"), "event_type").select(
        "event_type", "n_state", "kth_hash"
    )
    # batch audit (exactly the A87 report): exact count + full distinct
    # hash count alongside the stream-drained sketch
    ev = load(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        "user_id",
        shared_hash60(
            F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
        ).alias("h"),
    )
    nh = (
        hashed.select("event_type", "h")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_hashes"))
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
        .otherwise(F.col("n_state"))
        .cast("long")
    )
    return (
        sk.join(nh, "event_type")
        .join(truth, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_hashes",
            "kth_hash",
            est.alias("est_distinct"),
            (F.abs(est - F.col("n_exact")) * F.lit(1_000_000))
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


# -------------- T35: streaming last-touch attribution (staged r13) ---------
def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T35: A28's last-touch revenue attribution served LIVE over the
    ordered-chunk replay — the minimal-state end of the T2x spectrum:
    where sessions hold an open horizon and the as-of join a purchase
    map, last-touch needs THREE scalars per user forever, which is why
    real-time attribution dashboards are cheap at any scale.  Each
    purchase emits its channel exactly once (append mode); the channel
    report aggregates the drained emissions and must equal the batch
    A28 oracle bit-exactly — the proof that the window formulation and
    the fold formulation are the same operator."""
    from project_obsidian_core_spark.plans.behavior_queries import (
        _ATTR_LOOKBACK_S,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_last_touch,
    )

    stream = _replay(spark, _events_src_ordered(spark, sf_dir), "1")
    # the ordered src drops `props`; rebuild the channel from the raw
    # table keyed by event_id (a broadcast-size static dim at gate SFs,
    # a plain join at scale) so the channel definition stays A28's
    chan = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            F.col("event_id").alias("ch_id"),
            F.concat(
                F.col("event_type"),
                F.lit("_c"),
                (F.get_json_object(F.col("props"), "$.k").cast("long") % 4).cast(
                    "string"
                ),
            ).alias("touch_ch"),
        )
    )
    shaped = (
        stream.join(F.broadcast(chan), stream.event_id == chan.ch_id, "left")
        .select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_id",
            "event_type",
            "touch_ch",
            "cents",
        )
    )
    out = streaming_last_touch(shaped, _ATTR_LOOKBACK_S * 1_000_000)

    return (
        _drain(spark, out, "append")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


# ---------------- T36: streaming SPC rules (staged r13) --------------------
def stream_spc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T36: the A100 control chart served LIVE — the bucket-sum state
    family's GLOBAL-statistic member: Bollinger's trailing frame made
    one late hour shift SUBSEQUENT windows; the SPC center line is a
    whole-series rational, so one late bucket re-tests EVERY point
    (create/move/RETRACT — the sentinel + max-version drain resolves
    all revisions).  Gated on the batch `metric_spc_rules` oracle
    verbatim: the fold re-derivation and the window formulation are the
    same operator."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_spc,
    )

    latest = _replay_metric_series(spark, sf_dir, _HOUR, streaming_spc)
    # the drain drops the NULL-bucket retraction sentinels
    latest = latest.filter(F.col("bucket").isNotNull())
    return latest.select(
        "metric_name", "bucket", "value_dollars", "side", "rule1", "rule4"
    ).orderBy("metric_name", "bucket")


def stream_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T37: the A84 additive trend/seasonal decomposition served LIVE —
    the bucket-sum state family's second GLOBAL-statistic member after
    SPC (T36): a late bucket shifts the positional 25-row trend window
    of its neighbors and the per-hour-of-day seasonal means, so every
    version re-emits the metric's full decomposition and the drain
    keeps the max version.  Gated on the batch
    `metric_seasonal_decompose` oracle verbatim: the emit-time
    re-derivation and the window formulation are the same operator
    (r13 verdict Next #5 — its governor-style consumers are streaming,
    the batch twin alone left the live path unproven)."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_seasonal,
    )

    latest = _replay_metric_series(spark, sf_dir, _HOUR, streaming_seasonal)
    return latest.select(
        "metric_name", "bucket", "v", "trend_sum25", "n_win", "detr25",
        "hod", "seasonal",
    ).orderBy("metric_name", "bucket")


def stream_autoperiod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T38: the A102 ACF-argmax dominant-period detector served LIVE —
    the bucket-sum state family's third global-statistic member: any
    bucket can move every lag's exact moment sums and re-order the
    argmax, so each version re-emits the metric's single report row and
    the drain keeps the max version.  Gated on the batch
    `metric_autoperiod` oracle verbatim — the emit-time re-derivation
    (A48 moment machinery, one-sqrt IEEE correlation) and the
    lag-expanded equi-join formulation are the same operator."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_autoperiod,
    )

    latest = _replay_metric_series(spark, sf_dir, _HOUR, streaming_autoperiod)
    return latest.select(
        "metric_name", "dominant_lag", "dominant_acf", "second_lag",
        "second_acf", "is_daily",
    ).orderBy("metric_name")


def stream_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T39: the A86 winsorized robust statistics served LIVE — the
    bucket-sum state family's fourth global-statistic member: a new or
    late bucket moves the EXACT nearest-rank p05/p95 bounds (positional
    over the total (value, bucket) order), so every version re-emits the
    metric's single report row and the drain keeps the max version.
    Gated on the batch `metric_winsorize` oracle verbatim — the
    emit-time re-derivation (nearest-rank clip + one IEEE division) and
    the rank-window formulation are the same operator."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_winsorize,
    )

    latest = _replay_metric_series(spark, sf_dir, _HOUR, streaming_winsorize)
    return latest.select(
        "metric_name", "n_buckets", "p05", "p95", "n_clip_low",
        "n_clip_high", "sum_raw", "sum_winsor", "winsor_mean",
    ).orderBy("metric_name")


def stream_range_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T40: the A104 reset-aware range rate served LIVE — rate() over a
    live counter IS the canonical observability stream; the counter is
    the running cumulative sum of the bucket-sum state, so a late
    bucket shifts every later sample's counter and the whole window
    table revises per emit.  Gated on the batch `metric_range_rate`
    oracle verbatim."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_range_rate,
    )

    latest = _replay_metric_series(spark, sf_dir, _HOUR, streaming_range_rate)
    return latest.select(
        "metric_name", "win", "n_samples", "first_bucket", "last_bucket",
        "counter_first", "counter_last", "n_resets", "increase",
        "rate_per_hour",
    ).orderBy("metric_name", "win")


def stream_language_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T41: the corpus language mixture served LIVE — the ingestion
    monitor a curation front-door actually watches (mixture drift
    DURING a crawl is how a broken source surfaces); per-(source, lang)
    doc counts build as a complete-mode streaming aggregation (counts
    are commutative integer sums, so micro-batch state merging ≡ the
    batch count — the T33 mergeability argument), and the exact-ppm
    shares are derived on the drained ≤|sources|·|langs| relation with
    the IDENTICAL integer expression as the batch plan.  Gated on the
    batch `corpus_language_mixture` oracle verbatim."""
    src = _documents_src(spark, sf_dir, "doc_id", "source", "lang")
    stream = _replay(spark, src, "4")
    counts = stream.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    emitted = _drain(spark, counts, "complete")
    # exact-ppm shares on the drained reduced relation — the IDENTICAL
    # integer expression as datapipe.curation.language_mixture
    from project_obsidian_core_spark.datapipe.curation import (
        language_mixture_shares,
    )

    return language_mixture_shares(emitted).orderBy("source", "lang")


# ------------ T42: streaming Holt forecast backtest (A94 live) ------------
def stream_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T42: the A94 Holt holdout backtest served LIVE (r14 verdict Next
    #7 — the governor's fall-back-to-EWMA decision consumes this audit
    in flight).  State is the commutative exact-int hour sums; each emit
    re-derives the train/test split, the A53 train fold, HALF_UP-rounded
    holdout errors and the integer MAE/improvement.  Drained max-version
    rows gate on the batch `metric_forecast_backtest` oracle verbatim."""
    from project_obsidian_core_spark.plans.metrics_queries import (
        HOLT_ALPHA,
        HOLT_BETA,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_forecast_backtest,
    )

    latest = _replay_metric_series(
        spark, sf_dir, _HOUR,
        streaming_forecast_backtest, HOLT_ALPHA, HOLT_BETA,
    )
    return latest.select(
        "metric_name",
        "n_train",
        "n_test",
        "level",
        "trend",
        "mae_holt_cents",
        "mae_naive_cents",
        "improvement_ppm",
    ).orderBy("metric_name")


# -------------- T43: streaming supplier HHI (A108 served live) ------------
def stream_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T43: the A108 supplier-concentration index served LIVE — the
    lineitem feed replays through a (nation → per-supplier cent sums)
    bucket-sum state; every emit re-derives milli-shares, HHI and the
    DOJ band with the batch expressions verbatim.  Drained max-version
    rows gate on the batch `nation_supplier_hhi` oracle verbatim.

    The stream carries (nation, l_suppkey, cents) — the supplier→nation
    dimension is broadcast-attached at source materialization, the
    same pre-projection the events twins apply to `cents`."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_supplier_hhi,
    )

    def lineitem_by_nation() -> DataFrame:
        nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        supp = (
            load(spark, sf_dir, "supplier")
            .join(
                F.broadcast(nation),
                F.col("s_nationkey") == F.col("n_nationkey"),
            )
            .select("s_suppkey", F.col("n_name").alias("nation"))
        )
        return (
            load(spark, sf_dir, "lineitem")
            .select("l_suppkey", cents("l_extendedprice").alias("epc"))
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .select("nation", "l_suppkey", "epc")
        )

    src = _materialize(f"li_hhi:{sf_dir}", lineitem_by_nation)
    stream = _replay(spark, src, "8")
    keyed = stream.select(
        "nation",
        F.col("l_suppkey").alias("bucket"),
        F.col("epc").alias("v"),
    )
    out = streaming_supplier_hhi(keyed)

    latest = _latest(_drain(spark, out, "append"), "nation")
    return latest.select(
        "nation", "n_suppliers", "revenue_cents", "hhi", "band"
    ).orderBy("nation")


# --------- T44: streaming tokenizer-bomb monitor (X31 served live) --------
def stream_token_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T44: the X31 token-length anomaly screen served LIVE — the
    tokenizer-bomb gate belongs at the ingestion front door (one
    base64-dumping source can poison a crawl batch long before the
    nightly batch report): per-doc stats are the SHARED
    `token_doc_stats` expressions (stateless), the (source, max_len)
    grid is a complete-mode streaming aggregation of the SHARED
    `token_anomaly_grid` sums (commutative ints — micro-batch merge ≡
    the batch grid), and the drained relation feeds the SHARED
    `token_anomaly_report` derivation — one expression set, both
    engines, so the batch and live gates cannot drift (the T41 rule).
    Gated on the batch `text_token_anomalies` oracle verbatim."""
    from project_obsidian_core_spark.plans.datapipe_queries import (
        token_anomaly_grid,
        token_anomaly_report,
        token_doc_stats,
    )

    stream = _replay(spark, _documents_src(spark, sf_dir, "source", "text"), "4")
    grid = token_anomaly_grid(token_doc_stats(stream))
    return token_anomaly_report(_drain(spark, grid, "complete"))


# -------- T45: streaming char-class fingerprint (X32 served live) ---------
def stream_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T45: the X32 character-class fingerprint served LIVE — the
    cheapest drift alarm a crawl front-door can run (a digit-share
    spike mid-crawl = a source started emitting logs/IDs; catching it
    live saves the batch that would have to be quarantined): per-row
    counts are the SHARED `charclass_counts` expressions (stateless),
    the per-source sums a complete-mode streaming aggregation of the
    SHARED `charclass_sums` (commutative ints), the ppm derivation the
    SHARED `charclass_report` — one expression set, so the batch and
    live gates cannot drift (the T41/T44 rule).  Gated on the batch
    `text_charclass_profile` oracle verbatim."""
    from project_obsidian_core_spark.plans.curation_queries import (
        charclass_counts,
        charclass_report,
        charclass_sums,
    )

    stream = _replay(spark, _documents_src(spark, sf_dir, "source", "text"), "4")
    sums = charclass_sums(charclass_counts(stream))
    return charclass_report(_drain(spark, sums, "complete"), summed=True)


# ---------- T46: streaming dwell-time quantiles (A110 served live) --------
def stream_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T46: the A110 post-event dwell report served LIVE — per-user
    (ts, event_id)-sorted sequence state re-derives each user's
    complete (type, dwell) multiset per emit (a late event splits an
    existing dwell); drained max-version user grids sum to the global
    grid and the SHARED `dwell_report` derivation finishes — gated on
    the batch `events_dwell_time` oracle verbatim."""
    from project_obsidian_core_spark.plans.behavior_queries import (
        dwell_report,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_dwell_grid,
    )

    stream = _replay(spark, _events_src(spark, sf_dir), "4")
    keyed = stream.select(
        "user_id",
        F.expr("unix_micros(ts)").alias("ts_us"),
        F.col("event_id"),
        "event_type",
    )
    out = streaming_dwell_grid(keyed)

    latest = _latest(_drain(spark, out, "append"), "user_id")
    grid = latest.groupBy("event_type", "dwell_s").agg(
        F.sum("cnt").alias("cnt")
    )
    return dwell_report(grid)


# ---------- T47: streaming state-size budget report (round 16) ------------
def stream_state_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T47: the streaming state-size BUDGET — one representative of each
    state family drained and SIZED (r15 verdict #6: the bounds were
    unit-pinned but never measured in a driver-visible artifact).  This
    is the operational sizing table a 100x-scale deploy reads first:
    per family, how many keys hold state, how many state rows exist in
    total, and the largest single key.

    Every size is read from the state the real operator keeps: each
    family's stream is drained from a fresh checkpoint and that
    checkpoint is read back with Spark's ``statestore`` source
    (:func:`_drain` with ``state=True``), never a formula or a mirror:

    - ``cms_counters``: the T33 complete-mode counter relation — key
      rows per hash row ``r`` of the (r, bucket) aggregation state,
      ≤ d·w = 4096 forever;
    - ``ewma_bucket_sums``: the T23 per-metric exact-int bucket sums —
      the length of each metric's ``buckets`` state array;
    - ``kmv_minima``: the T34 k-smallest-distinct-hash fold — the length
      of each type's ``minima`` state array, ≤ k = 64 per key forever;
    - ``sequence_evict``: the per-user ordered-sequence family under
      watermark eviction (T20e/T21e/T22e) — the length of each user's
      ``ts_us`` state array under ``streaming_transitions(evict=True)``
      on the ordered-chunk replay (bisect cut + one frozen anchor; a key
      holding more than its anchor wakes whenever a trim remains, so the
      final sizes are watermark-exact and chunk-independent).

    Exactness: every reported int is gated against a DuckDB twin that
    derives the SAME sizes from the retention contracts (distinct
    buckets per metric; least(k, distinct hashes); distinct probe
    buckets; the watermark-cut count) — the gate is therefore a proof
    that the live state obeys its documented bound ON THIS DATA, which
    is exactly what a capacity plan needs.  Scale: state sizes are
    bounded by (metrics x horizon buckets), (types x k), (d x w) and
    (users x horizon rows) respectively — none grows with replay
    length."""
    from project_obsidian_core_spark.datapipe.text import shared_hash60
    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        _KMV_K,
        cms_keyed,
        cms_probes,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_ewma,
        streaming_kmv,
        streaming_transitions,
    )

    src = _events_src(spark, sf_dir)

    def family(name: str, per_key: DataFrame) -> DataFrame:
        """A family's budget row from its per-key state sizes ``n``."""
        return per_key.agg(
            F.lit(name).alias("family"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n").cast("long").alias("state_rows"),
            F.max("n").cast("long").alias("max_rows_per_key"),
        )

    def array_sizes(stream: DataFrame, field: str) -> DataFrame:
        """Per key, the length of the state array ``field`` that an
        ``applyInPandasWithState`` operator holds after the replay."""
        state = _drain(spark, stream, "append", state=True)
        return state.select(F.size(f"value.groupState.{field}").alias("n"))

    # the grouping columns are named before the groupBy: over aliased
    # expressions both state-key fields would be named _groupingexpression
    counters_s = (
        cms_keyed(_replay(spark, src, "4"))
        .select(F.explode(cms_probes()).alias("p"))
        .select("p.r", "p.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cms_state = _drain(spark, counters_s, "complete", state=True)
    cms_fam = family(
        "cms_counters",
        cms_state.groupBy("key.r").agg(F.count(F.lit(1)).alias("n")),
    )

    ewma_fam = family(
        "ewma_bucket_sums",
        array_sizes(
            streaming_ewma(_metric_series(spark, sf_dir, _MINUTE)), "buckets"
        ),
    )

    hashed_s = _replay(spark, src, "4").select(
        "event_type",
        shared_hash60(
            F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
        ).alias("h"),
    )
    kmv_fam = family(
        "kmv_minima", array_sizes(streaming_kmv(hashed_s, k=_KMV_K), "minima")
    )

    # the ordered-chunk replay is the eviction contract's transport
    stream_ord = _replay(
        spark, _events_src_ordered(spark, sf_dir), "1"
    ).withWatermark("ts", "1 minute")
    seq_fam = family(
        "sequence_evict",
        array_sizes(streaming_transitions(stream_ord, evict=True), "ts_us"),
    )

    return (
        cms_fam.unionByName(ewma_fam)
        .unionByName(kmv_fam)
        .unionByName(seq_fam)
        .orderBy("family")
    )


def _state_budget_oracle() -> str:
    """DuckDB twin of the T47 budget: derives each family's state size
    from its retention CONTRACT — distinct probe buckets (CMS),
    distinct minute buckets per metric (EWMA sums), least(k, distinct
    hashes) (KMV), and the watermark-cut row count plus one anchor
    (sequence eviction).  The watermark is millisecond-floored exactly
    as Spark tracks event time (floor(max_us/1000)*1000 − 60 s)."""
    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        _CMS_D,
        _CMS_W,
        _KMV_K,
    )
    from project_obsidian_core_spark.plans.metrics_queries import HIT, READ

    h60 = "CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"
    cms_hash = h60.format(
        expr="'cms' || CAST(g.r AS VARCHAR) || ':' || key"
    )
    kmv_hash = h60.format(expr="'kmv:' || CAST(user_id AS VARCHAR)")
    return f"""
WITH cms_k AS (
    SELECT CASE WHEN event_id % 3 != 0
                THEN 'hot_' || CAST(user_id % 5 AS VARCHAR)
                ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
    FROM events
), cms_p AS (
    SELECT DISTINCT g.r AS r, {cms_hash} % {_CMS_W} AS bucket
    FROM cms_k, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r) g
), cms_per AS (
    SELECT r, count(*) AS rows_ FROM cms_p GROUP BY r
), cms_fam AS (
    SELECT 'cms_counters' AS family,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(rows_) AS BIGINT) AS state_rows,
           CAST(max(rows_) AS BIGINT) AS max_rows_per_key
    FROM cms_per
), ewma_k AS (
    SELECT CASE WHEN event_type = 'view' THEN '{HIT}'
                WHEN event_type = 'click' THEN '{READ}'
                ELSE 'postgresql.' || event_type END AS metric_name,
           epoch_us(ts) // 60000000 AS bucket
    FROM events
), ewma_per AS (
    SELECT metric_name, count(DISTINCT bucket) AS rows_
    FROM ewma_k GROUP BY metric_name
), ewma_fam AS (
    SELECT 'ewma_bucket_sums' AS family,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(rows_) AS BIGINT) AS state_rows,
           CAST(max(rows_) AS BIGINT) AS max_rows_per_key
    FROM ewma_per
), kmv_h AS (
    SELECT DISTINCT event_type, {kmv_hash} AS h FROM events
), kmv_per AS (
    SELECT event_type, least({_KMV_K}, count(*)) AS rows_
    FROM kmv_h GROUP BY event_type
), kmv_fam AS (
    SELECT 'kmv_minima' AS family,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(rows_) AS BIGINT) AS state_rows,
           CAST(max(rows_) AS BIGINT) AS max_rows_per_key
    FROM kmv_per
), wm AS (
    SELECT (max(epoch_us(ts)) // 1000) * 1000 - 60000000 AS wm_us
    FROM events
), seq_per AS (
    SELECT user_id, count(*) AS n,
           sum(CASE WHEN epoch_us(ts) < wm_us THEN 1 ELSE 0 END) AS below
    FROM events, wm GROUP BY user_id
), seq_rows AS (
    SELECT user_id, n - greatest(below - 1, 0) AS rows_ FROM seq_per
), seq_fam AS (
    SELECT 'sequence_evict' AS family,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(rows_) AS BIGINT) AS state_rows,
           CAST(max(rows_) AS BIGINT) AS max_rows_per_key
    FROM seq_rows
)
SELECT * FROM cms_fam
UNION ALL SELECT * FROM ewma_fam
UNION ALL SELECT * FROM kmv_fam
UNION ALL SELECT * FROM seq_fam
ORDER BY family
"""


ORACLE_stream_state_budget = _state_budget_oracle()


# ---------- T48: streaming content-extraction monitor (X34 live) ----------
def stream_extract_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T48: the X34 boilerplate-strip accounting served LIVE — the
    extraction front door is where markup leakage is cheapest to catch
    (a source whose removed-bytes share jumps mid-crawl started
    shipping templated chrome; quarantining the batch after the
    nightly report costs the whole batch): per-doc stats are the
    SHARED `extract_doc_stats` projection (stateless — fixture
    synthesis, tag strip, line rules), the per-source sums+max a
    complete-mode streaming aggregation of the SHARED `extract_sums`
    (commutative ints; max merges), the ppm derivation the SHARED
    `extract_report` — one expression set, so the batch and live gates
    cannot drift (the T41/T44/T45 rule).  Gated on the batch
    `text_extract_content` oracle verbatim."""
    from project_obsidian_core_spark.plans.curation_queries import (
        extract_doc_stats,
        extract_report,
        extract_sums,
    )

    src = _documents_src(spark, sf_dir, "doc_id", "source", "text")
    stream = _replay(spark, src, "4")
    sums = extract_sums(extract_doc_stats(stream))
    return extract_report(_drain(spark, sums, "complete"))


# ---------- T49: streaming Gini concentration monitor (A114 live) ---------
def stream_gini_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T49: the A114 Gini concentration served LIVE — concentration
    drift is an operational alarm, not a nightly report (a segment
    whose Gini jumps mid-day means a few whales started dominating
    revenue — exactly when rate limits and fraud checks should wake):
    the (segment, value-cents) count grid is a complete-mode streaming
    aggregation of the SHARED `gini_grid` (commutative integer counts:
    micro-batch merge ≡ the batch grid), and the drained relation
    feeds the SHARED `gini_report` rank-sum derivation — one
    expression set, both engines, so the batch and live gates cannot
    drift (the T41/T44/T45/T48 rule).  Gated on the batch
    `orders_gini_segment` oracle verbatim."""
    from project_obsidian_core_spark.plans.relational_queries import (
        gini_grid,
        gini_report,
    )

    def orders_by_segment() -> DataFrame:
        orders = load(spark, sf_dir, "orders")
        cust = load(spark, sf_dir, "customer")
        return orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        ).select(
            F.col("c_mktsegment").alias("segment"),
            cents("o_totalprice").alias("v"),
        )

    src = _materialize(f"orders_seg:{sf_dir}", orders_by_segment)
    stream = _replay(spark, src, "4")
    grid = gini_grid(stream)
    return gini_report(_drain(spark, grid, "complete"))


# ---------- T50: streaming shard-skew monitor (P20 served live) -----------
def stream_shard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T50: the P20 shard-balance audit served LIVE — writer skew is a
    front-door alarm (a hot shard forming DURING ingestion means one
    straggler task and one oversized file at commit time; catching it
    live lets the writer re-salt before the job ends): the per-row
    shard key is the SHARED `shard_stats` stateless expression, the
    per-shard sums a complete-mode streaming aggregation of the SHARED
    `shard_sums` (commutative ints — micro-batch merge ≡ the batch
    relation), the share/is_hot derivation the SHARED `shard_report` —
    one expression set, so the batch and live gates cannot drift (the
    T41/T44/T45/T48/T49 rule).  Gated on the batch
    `corpus_shard_skew` oracle verbatim."""
    from project_obsidian_core_spark.plans.pipeline_queries import (
        shard_report,
        shard_stats,
        shard_sums,
    )

    src = _documents_src(spark, sf_dir, "doc_id", "source", "text")
    stream = _replay(spark, src, "4")
    sums = shard_sums(shard_stats(stream))
    return shard_report(_drain(spark, sums, "complete"))
