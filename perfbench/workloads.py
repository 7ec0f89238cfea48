"""The benchmark's closed-loop workloads: one client, each op waits for the
last.

Each workload has ``setup()`` (inputs and the program's own write-side
chain), ``prepare()`` (untimed work before an op), ``op()`` (one timed unit
of work, returning its outputs) and ``check()`` (DuckDB references, after
the timed window). Every call into a library layer is wrapped in a tracer
span named after that layer's public function.

Why two workloads and not four: one run costs a JVM start plus a cold
warm-up op (~30 s on a 4-core host) before anything is timed, and the whole
protocol of 4 + 22 x workloads runs must fit in 57 minutes. So
``tick_stream`` also refreshes the read-only dashboards (``dashboard_mix``)
each tick, and ``corpus_dedup`` also replays the sequence-state stream
queries (``series_replay``). The two stay apart by layer: no QAN code runs
in ``corpus_dedup``, and no datapipe or sequence-state code in
``tick_stream``.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pyarrow.parquet as pq

import gen
import reference as ref


def _ts(us: int) -> str:
    return (datetime(1970, 1, 1) + timedelta(microseconds=us)).strftime("%Y-%m-%d %H:%M:%S")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _count_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


class Workload:
    warmup_ops = 1
    #: input rows one op processes (for the ungated rows_per_s figure)
    rows_per_op = 0

    def __init__(self, spark, root: str, seed: int, tracer, threads: int):
        self.spark, self.root, self.seed, self.tr = spark, root, seed, tracer
        self.threads = threads

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed work before the next op."""

    def op(self) -> dict:
        raise NotImplementedError

    def check(self, outputs: list[dict]) -> list[tuple[int, str, str]]:
        """``(op index, panel, reason)`` for every mismatch; op index -1
        is set-up. ``outputs`` holds the warm-up ops first."""
        raise NotImplementedError

    def close(self) -> None:
        pass


# ------------------------------------------------- scrape to dashboard ---
class TickStream(Workload):
    """Scrape → stateful delta stream → rollup write → dashboard refresh.

    Set-up writes a short MySQL + PostgreSQL history through the program's
    batch chain (``operators.delta`` → ``operators.rollup.write_qan``) and a
    metrics_db through ``write_metrics``, then starts one
    ``delta_stream.stateful_deltas`` query that continues the MySQL history
    from a file source. One op: the collector lands one scrape, the stream
    folds it and its foreachBatch sink appends the qan rows, then the
    dashboard refreshes (freshness panel first, then the dashboard_mix
    panels over everything written so far).
    """

    N_INST, N_DIGESTS, N_HISTORY = 20, 1000, 6
    METRIC_INST, METRIC_MINUTES = 10, 90
    SERIES = ["postgresql.backends", "mysql.threads_running"]
    KEY_COLS = ["digest", "schema_name", "digest_text"]
    warmup_ops = 1

    def setup(self):
        from pyspark.sql import types as T

        from project_obsidian_core_spark import schemas
        from project_obsidian_core_spark.operators import delta, rollup
        from project_obsidian_core_spark.streaming import delta_stream

        spark, tr = self.spark, self.tr
        self.qan_path = f"{self.root}/qan_db"
        self.metrics_path = f"{self.root}/metrics_db"
        self.land = f"{self.root}/landing"
        os.makedirs(self.land)

        # read-side history through the batch chain
        self.history, hists, last = {}, {}, {}
        for system in ("mysql", "postgresql"):
            hists[system] = gen.SnapshotHistory(system, self.N_INST, self.N_DIGESTS, self.seed)
            self.history[system], last[system] = gen.write_history(
                hists[system], self.N_HISTORY, f"{self.root}/in/{system}"
            )
        self.hot_digest = hists["mysql"].key_ids[0]  # the Zipf head
        gen.write_metrics(f"{self.root}/in/metrics", self.METRIC_INST, self.METRIC_MINUTES, self.seed)
        my = spark.read.parquet(f"{self.root}/in/mysql")
        pg = spark.read.parquet(f"{self.root}/in/postgresql")
        with tr.span("setup.operators.delta.mysql_deltas"):
            my_d = delta.mysql_deltas(my)
        with tr.span("setup.operators.delta.pg_deltas"):
            pg_d = delta.pg_deltas(pg)
        with tr.span("setup.operators.delta.union_qan"):
            qan = delta.union_qan(delta.mysql_deltas_to_qan(my_d), delta.pg_deltas_to_qan(pg_d))
        with tr.span("setup.operators.rollup.write_qan"):  # runs the whole lazy batch chain
            rollup.write_qan(qan, self.qan_path, mode="overwrite")
        metrics_in = spark.read.parquet(f"{self.root}/in/metrics")
        with tr.span("setup.operators.rollup.write_metrics"):
            rollup.write_metrics(metrics_in, self.metrics_path, mode="overwrite")

        # the live MySQL stream, starting from the history's last scrape
        self.hist = hists["mysql"]
        self.expected, self.tick_ts = [], []
        self._land(last["mysql"])
        stream = spark.readStream.schema(schemas.MYSQL_SNAPSHOT_SCHEMA).parquet(self.land)
        metric_fields = [(m, T.LongType()) for m in schemas.MYSQL_METRIC_COLS]
        deltas = delta_stream.stateful_deltas(stream, self.KEY_COLS, metric_fields, activity_col="count_star")
        qan_path = self.qan_path

        def sink(batch_df, epoch_id):
            with tr.span("operators.delta.mysql_deltas_to_qan"):
                qan = delta.mysql_deltas_to_qan(batch_df)
            with tr.span("operators.rollup.write_qan"):
                rollup.write_qan(qan, qan_path, mode="append")

        self.query = (
            deltas.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{self.root}/checkpoint")
            .queryName("tick_stream")
            .start()
        )
        with tr.span("setup.streaming.delta_stream"):
            self.query.processAllAvailable()

    def _land(self, table) -> None:
        tick = self.hist.tick - 1
        tmp = f"{self.root}/landing_tmp-{tick:05d}.parquet"
        pq.write_table(table, tmp)
        os.rename(tmp, f"{self.land}/tick-{tick:05d}.parquet")  # atomic for the file source

    def prepare(self):
        self.snap, expected = self.hist.step()  # the collector's scrape
        self.expected.append(expected)
        self.tick_ts.append(int(expected["ts_us"][0]))
        self.rows_per_op = self.snap.num_rows

    def _panels(self, ts_us: int) -> dict:
        """Panel → time range ``(start, end)``: the last 5 minutes
        (freshness), the last 10 (a range narrower than the data, so file
        statistics can skip), and everything so far."""
        now = _ts(ts_us)
        return {
            "fresh_top": (_ts(ts_us - 5 * gen.MINUTE_US), now),
            "range": (_ts(ts_us - 10 * gen.MINUTE_US), now),
            "upto": (None, now),
        }

    def op(self):
        from project_obsidian_core_spark.analytics import metrics as am
        from project_obsidian_core_spark.analytics import qan as aq

        spark, tr = self.spark, self.tr
        rng = self._panels(self.tick_ts[-1])
        now = rng["upto"][1]
        with tr.span("collect.land_tick"):
            self._land(self.snap)
        with tr.span("streaming.delta_stream"):
            self.query.processAllAvailable()
        out = {}
        with tr.span("read.qan_db"):
            qan = spark.read.parquet(self.qan_path)
        with tr.span("analytics.qan.fresh_top"):
            out["fresh_top"] = _rows(aq.top_queries(qan, "mysql", start=rng["fresh_top"][0], end=now))
        with tr.span("read.metrics_db"):
            met = spark.read.parquet(self.metrics_path)
        for system in ("mysql", "postgresql"):
            with tr.span("analytics.qan.top_queries"):
                out[f"top_queries/{system}"] = _rows(aq.top_queries(qan, system))
            with tr.span("analytics.qan.top_queries_range"):
                out[f"top_queries_range/{system}"] = _rows(aq.top_queries(qan, system, start=rng["range"][0], end=now))
        with tr.span("analytics.qan.query_trend"):
            out["query_trend"] = _rows(aq.query_trend(qan, self.hot_digest, "mysql"))
        with tr.span("analytics.qan.top_by_multiple_metrics"):
            out["top_by_multiple_metrics"] = _rows(aq.top_by_multiple_metrics(qan, "mysql"))
        with tr.span("analytics.qan.compare_systems"):
            out["compare_systems"] = _rows(aq.compare_systems(qan))
        with tr.span("analytics.metrics.metric_series"):
            out["metric_series"] = _rows(am.metric_series(met, self.SERIES))
        with tr.span("analytics.metrics.buffer_hit_ratio"):
            out["buffer_hit_ratio"] = _rows(am.buffer_hit_ratio(met))
        return out

    def files(self) -> int:
        return _count_files(self.qan_path)

    def close(self):
        if getattr(self, "query", None) is not None:
            self.query.stop()
            self.query.awaitTermination()

    def check(self, outputs):
        con = ref.connect(self.threads)
        con.execute(f"CREATE VIEW qan AS SELECT * FROM read_parquet('{self.qan_path}/**/*.parquet')")
        con.execute(f"CREATE VIEW metrics AS SELECT * FROM read_parquet('{self.metrics_path}/**/*.parquet')")
        bad = []
        # every delta row, batch history and stream ticks alike, against
        # the generator's exact expectation
        op_of_tick = {t: i for i, t in enumerate(self.tick_ts)}
        for system in ("mysql", "postgresql"):
            expected = self.history[system]
            if system == "mysql":
                expected = gen.concat([expected, *self.expected])
            for t, why in ref.compare_ticks(con, system, expected):
                i = op_of_tick.get(t, -1) if system == "mysql" else -1
                bad.append((i, f"deltas/{system}@{_ts(t)}", why))
        static = {
            "metric_series": con.execute(ref.metric_series_sql(self.SERIES)).fetchall(),
            "buffer_hit_ratio": con.execute(ref.buffer_hit_ratio_sql()).fetchall(),
        }
        for i, (ts_us, out) in enumerate(zip(self.tick_ts, outputs)):
            rng = self._panels(ts_us)
            upto = rng["upto"][1]
            want = {
                "fresh_top": ref.top_queries_sql("mysql", *rng["fresh_top"]),
                "query_trend": ref.query_trend_sql(self.hot_digest, upto),
                "top_by_multiple_metrics": ref.top_by_multiple_metrics_sql(upto),
                "compare_systems": ref.compare_systems_sql(upto),
            }
            for system in ("mysql", "postgresql"):
                want[f"top_queries/{system}"] = ref.top_queries_sql(system, *rng["upto"])
                want[f"top_queries_range/{system}"] = ref.top_queries_sql(system, *rng["range"])
            for panel, sql in want.items():
                why = ref.same(out[panel], con.execute(sql).fetchall())
                if why:
                    bad.append((i, panel, why))
            for panel, rows in static.items():
                why = ref.same(out[panel], rows)
                if why:
                    bad.append((i, panel, why))
        con.close()
        return bad


# ------------------------------------------------- registered queries ---
class CorpusDedup(Workload):
    """One dedup pass through the registered datapipe queries over a
    seeded ``documents`` corpus, then a replay of registered bucket-sum
    stream queries from fresh checkpoints over a seeded ``events`` table.

    The first (warm-up) op is checked against the registry's DuckDB
    oracles; every later op against the first by order-insensitive hash.
    """

    N_DOCS, N_SOURCES = 500, 50
    N_SERIES, N_HOURS = 100, 24
    QUERIES = {
        "dedup_minhash_lsh": "datapipe",
        "dedup_clusters": "datapipe",
        "dedup_prefix_pairs": "datapipe",
        "dedup_ngram_pairs_hashed": "datapipe",
        "stream_cusum": "streaming.sequence_state",
        "stream_pettitt": "streaming.sequence_state",
    }

    def setup(self):
        self.sf_dir = f"{self.root}/in"
        os.makedirs(self.sf_dir)
        gen.write_corpus(f"{self.sf_dir}/documents.parquet", self.N_DOCS, self.seed, self.N_SOURCES)
        self.rows_per_op = self.N_DOCS + gen.write_events(
            f"{self.sf_dir}/events.parquet", self.N_SERIES, self.N_HOURS, self.seed
        )

    def op(self):
        from project_obsidian_core_spark.plans.registry import QUERIES

        out = {}
        for q, layer in self.QUERIES.items():
            with self.tr.span(f"{layer}.{q}"):
                out[q] = _rows(QUERIES[q](self.spark, self.sf_dir))
        return out

    def candidates(self) -> int:
        """MinHash candidate pairs before the Jaccard threshold (traced run)."""
        from project_obsidian_core_spark.datapipe import dedup
        from project_obsidian_core_spark.plans.common import load

        return dedup.minhash_candidates(load(self.spark, self.sf_dir, "documents")).count()

    def check(self, outputs):
        from project_obsidian_core_spark.plans.registry import ORACLES

        con = ref.connect(self.threads)
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.sf_dir}/documents.parquet')")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.sf_dir}/events.parquet/*.parquet')")
        bad = []
        first = outputs[0]
        for q in self.QUERIES:
            why = ref.same(first[q], con.execute(ORACLES[q]).fetchall())
            if why:
                bad.append((0, q, f"oracle: {why}"))
            h = ref.digest(first[q])
            for i, out in enumerate(outputs[1:], start=1):
                if ref.digest(out[q]) != h:
                    bad.append((i, q, "output differs from the first op's"))
        con.close()
        return bad


WORKLOADS = {"tick_stream": TickStream, "corpus_dedup": CorpusDedup}
