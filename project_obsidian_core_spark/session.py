"""SparkSession construction tuned for this engine.

Local testing runs ``local[N]`` single-JVM; production targets a multi-executor
cluster reading ~100 TB, so every default here is chosen to survive that
scale-up: AQE on (runtime coalescing + skew-join handling), shuffle partitions
sized to the parallelism at hand, Arrow enabled for the pandas-UDF slow path,
and UTC session time so timestamp semantics are stable across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the local CPU budget: the default ``local[N]`` width and shuffle partitions
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "obsidian-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with scale-aware defaults.

    On a real cluster, ``master`` comes from spark-submit and
    ``shuffle_partitions`` should be ~2-3x total executor cores; locally we
    default both to the CPU budget (``$SPARK_GRAFT_CPUS``, else 32).
    ``extra_conf`` is applied last, so it overrides any conf set here
    (for example ``spark.sql.streaming.stateStore.maintenanceInterval``
    for a long-running production stream).

    Generated-code cache (``spark.sql.codegen.cache.maxEntries``, a static
    conf read when the JVM first generates code): 1000 classes. Spark's
    default of 100 is smaller than one scrape-to-dashboard cycle and its
    set-up, so every dashboard refresh recompiled 66-91 classes (0.9-1.3 s
    of Janino at local[4]). Distinct classes measured with an unbounded
    cache at local[4]:

    * 207 for a perfbench ``tick_stream`` run (set-up plus 4 cycles);
    * 175 for one ``corpus_dedup`` op;
    * 178 for one pass over bench.py's 14-query contract subset at sf0.01.

    1000 holds all three at once (564) with 1.8x headroom, and each alone
    with 4.8x or more; a refresh then compiles 8 classes. Those 8 are new
    every cycle, because Spark inlines the range panels' timestamp
    literals (and the stream write's) into generated code, so a long-lived
    session fills the cache. The cap is therefore also a memory bound: a
    cached class kept about 25-35 KB of live heap (source plus bytecode),
    so a full cache holds about 25-35 MB, against about 3 MB at 100.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local[N] runs driver+executors in ONE JVM: the 1g default heap is a
        # toy. Only read at JVM launch — a no-op if the session already exists.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        # Replay-style workloads start many short streaming queries, each
        # with fresh checkpoints; the default 60 s state-store maintenance
        # pass then churns snapshot/cleanup work across every provider ever
        # loaded (measured: intermittent 2 s → 16 s replay spikes). For
        # long-running production streams, set this back near the default
        # through ``extra_conf``.
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
        # generated-code cache sized from measured working sets: see the
        # docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{DEFAULT_SHUFFLE_PARTITIONS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_bounded_window_warning(spark)
    return spark


def _silence_bounded_window_warning(spark: SparkSession) -> None:
    """Pin the WindowExec logger to ERROR.

    Every unpartitioned window in this package runs on a proven-bounded
    reduction (aggregate / distinct grid / ≤n_shards table) — the
    whitelist with per-site rationale is tests/test_global_window_whitelist.py,
    which fails on any NEW global-window site.  With boundedness enforced
    there, the per-query "No Partition Defined" WARN is pure noise
    (hundreds of lines per bench run) that buries real warnings.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # pragma: no cover - non-log4j2 runtime; warning stays
        pass


def pin_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to a session we did not build.

    The verification driver hands us its own SparkSession; timestamp
    comparisons against the DuckDB oracle require UTC session time, and AQE
    is purely beneficial. Only runtime-mutable confs are touched.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
