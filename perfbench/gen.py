"""Seeded input generators for the QAN-chain benchmark.

Every generator is a pure function of its seed and size arguments and writes
plain parquet; the program under test only ever sees those files. The
snapshot generators also return the exact delta rows the reference
semantics prescribe (reset-aware difference, new key = full value, first
instance snapshot emits nothing, zero-activity rows dropped), so the
streaming chain's output can be checked row by row.

Floating counters are multiples of 1/1024 (binary-exact), so every sum the
dashboards take is exact in any summation order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MYSQL_METRICS = (
    "count_star",
    "sum_timer_wait",
    "sum_lock_time",
    "sum_errors",
    "sum_warnings",
    "sum_rows_affected",
    "sum_rows_sent",
    "sum_rows_examined",
    "sum_created_tmp_tables",
    "sum_created_tmp_disk_tables",
    "sum_sort_rows",
    "sum_no_index_used",
    "sum_no_good_index_used",
)
PG_LONG_METRICS = (
    "calls",
    "rows",
    "shared_blks_hit",
    "shared_blks_read",
    "shared_blks_dirtied",
    "shared_blks_written",
    "local_blks_hit",
    "local_blks_read",
    "local_blks_dirtied",
    "local_blks_written",
    "temp_blks_read",
    "temp_blks_written",
)
PG_DOUBLE_METRICS = ("total_plan_time", "total_exec_time", "blk_read_time", "blk_write_time")

#: 2024-01-01T00:00:00Z in microseconds
T0_US = 1_704_067_200_000_000
MINUTE_US = 60_000_000

_TABLES = ("users", "orders", "items", "events", "sessions", "accounts", "carts", "logs")
_VERBS = (
    "SELECT * FROM {t} WHERE id = ?",
    "SELECT count(*) FROM {t} WHERE created_at > ?",
    "UPDATE {t} SET state = ? WHERE id = ?",
    "INSERT INTO {t} VALUES (?, ?, ?)",
    "DELETE FROM {t} WHERE expires_at < ?",
    "SELECT a.*, b.* FROM {t} a JOIN {u} b ON a.id = b.{t}_id WHERE a.k = ?",
)


def _statement_text(j: int) -> str:
    t = _TABLES[j % len(_TABLES)]
    u = _TABLES[(j // len(_TABLES)) % len(_TABLES)]
    return _VERBS[j % len(_VERBS)].format(t=t, u=u) + f" /* q{j} */"


class SnapshotHistory:
    """A fleet of ``n_inst`` database instances, each exposing up to
    ``n_digests`` statement counters, scraped once a minute.

    Per tick: digests are evicted and (re)appear (an evicted digest comes
    back with counters restarted, i.e. as a new key), whole instances
    restart (every counter resets), single digests are truncated, and
    about 60 % of the present digests run at all.  Statement popularity is
    Zipf-like, so a few digests dominate every ranking.
    """

    def __init__(self, system: str, n_inst: int, n_digests: int, seed: int):
        assert system in ("mysql", "postgresql")
        self.system = system
        self.n_inst, self.n_dig = n_inst, n_digests
        self.rng = np.random.default_rng([seed, 0 if system == "mysql" else 1])
        shape = (n_inst, n_digests)
        self.present = self.rng.random(shape) < 0.85
        self.prev_present = np.zeros(shape, dtype=bool)
        self.first = True
        self.tick = 0
        if system == "mysql":
            self.long_names, self.double_names = MYSQL_METRICS, ()
        else:
            self.long_names, self.double_names = PG_LONG_METRICS, PG_DOUBLE_METRICS
        self.cum = {m: np.zeros(shape, dtype=np.int64) for m in self.long_names}
        self.cum.update({m: np.zeros(shape, dtype=np.float64) for m in self.double_names})
        rank = np.arange(1, n_digests + 1)
        self.rate = 40.0 / rank**0.8  # Zipf-like calls per minute
        self.cost = self.rng.lognormal(0.0, 1.0, n_digests)  # per-call weight
        self.inst_ids = np.array([f"{system[:2]}-{i:03d}" for i in range(n_inst)], dtype=object)
        if system == "mysql":
            self.key_ids = np.array([f"{(j * 2654435761) % 2**64:016x}" for j in range(n_digests)], dtype=object)
        else:
            self.key_ids = np.array([str(-(7_000_000_000 + j * 7919)) for j in range(n_digests)], dtype=object)
        self.texts = np.array([_statement_text(j) for j in range(n_digests)], dtype=object)
        self.schemas = np.array([f"app{j % 5}" for j in range(n_digests)], dtype=object)
        self.users = np.array([f"u{j % 7}" for j in range(n_digests)], dtype=object)

    # -- one scrape ---------------------------------------------------
    def step(self):
        """Advance one minute. Returns ``(snapshot, expected)``: the scraped
        rows as a pyarrow Table and the exact delta rows the reference
        semantics emit for them, as a dict of numpy arrays."""
        rng, shape = self.rng, (self.n_inst, self.n_dig)
        was = self.present.copy()
        evict = rng.random(shape) < 0.01
        appear = rng.random(shape) < 0.03
        present = np.where(was, ~evict, appear)
        returning = present & ~was
        restart = rng.random(self.n_inst) < 0.01
        truncate = rng.random(shape) < 0.002
        zero = returning | restart[:, None] | truncate

        prev = {m: a.copy() for m, a in self.cum.items()}
        active = present & (rng.random(shape) < 0.6)
        calls = np.where(active, 1 + rng.poisson(self.rate[None, :], shape), 0).astype(np.int64)
        inc = self._increments(calls)
        for m, a in self.cum.items():
            a[zero] = 0
            a += inc[m]

        ts_us = T0_US + self.tick * MINUTE_US
        snap = self._snapshot_table(present, ts_us)
        expected = None
        if not self.first:
            # key valid as prev only if present in the immediately
            # previous scrape; otherwise it is a new key (full value)
            had_prev = self.prev_present & present
            deltas = {}
            for m, curr in self.cum.items():
                p = prev[m]
                deltas[m] = np.where(had_prev & (curr >= p), curr - p, curr)
            act = self.long_names[0]
            emit = present & (deltas[act] > 0)
            ii, jj = np.nonzero(emit)
            expected = {
                "instance_id": self.inst_ids[ii],
                "key": self.key_ids[jj],
                "ts_us": np.full(len(ii), ts_us, dtype=np.int64),
                **{m: d[ii, jj] for m, d in deltas.items()},
            }
        self.present = present
        self.prev_present = present
        self.first = False
        self.tick += 1
        return snap, expected

    def _increments(self, calls):
        rng, shape = self.rng, calls.shape
        c = calls
        w = self.cost[None, :]
        if self.system == "mysql":
            timer = (c * (w * 2.0e8) * rng.uniform(0.5, 1.5, shape)).astype(np.int64)
            return {
                "count_star": c,
                "sum_timer_wait": timer,
                "sum_lock_time": timer // 17,
                "sum_errors": rng.binomial(c, 0.01),
                "sum_warnings": rng.binomial(c, 0.03),
                "sum_rows_affected": c * rng.integers(0, 3, shape),
                "sum_rows_sent": c * rng.integers(1, 20, shape),
                "sum_rows_examined": (c * w * 100).astype(np.int64),
                "sum_created_tmp_tables": rng.binomial(c, 0.1),
                "sum_created_tmp_disk_tables": rng.binomial(c, 0.02),
                "sum_sort_rows": c * rng.integers(0, 50, shape),
                "sum_no_index_used": rng.binomial(c, 0.05),
                "sum_no_good_index_used": rng.binomial(c, 0.01),
            }
        exec_ms = np.round(c * w * rng.uniform(0.5, 1.5, shape) * 1024) / 1024
        hit = (c * w * 40).astype(np.int64)
        out = {
            "calls": c,
            "rows": c * rng.integers(1, 20, shape),
            "shared_blks_hit": hit,
            "shared_blks_read": hit // 9,
            "shared_blks_dirtied": rng.binomial(c, 0.1),
            "shared_blks_written": rng.binomial(c, 0.05),
            "local_blks_hit": rng.binomial(c, 0.02),
            "local_blks_read": rng.binomial(c, 0.01),
            "local_blks_dirtied": np.zeros(shape, dtype=np.int64),
            "local_blks_written": np.zeros(shape, dtype=np.int64),
            "temp_blks_read": rng.binomial(c, 0.02) * 8,
            "temp_blks_written": rng.binomial(c, 0.02) * 8,
            "total_plan_time": np.round(exec_ms * 0.1 * 1024) / 1024,
            "total_exec_time": exec_ms,
            "blk_read_time": np.round(exec_ms * 0.2 * 1024) / 1024,
            "blk_write_time": np.round(exec_ms * 0.05 * 1024) / 1024,
        }
        return out

    def _snapshot_table(self, present, ts_us) -> pa.Table:
        ii, jj = np.nonzero(present)

        def strings(values, idx):
            return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values, pa.string()))

        cols = {
            "instance_id": strings(self.inst_ids, ii),
            "snapshot_ts": pa.array(np.full(len(ii), ts_us), pa.timestamp("us", tz="UTC")),
        }
        if self.system == "mysql":
            cols["schema_name"] = strings(self.schemas, jj)
            cols["digest"] = strings(self.key_ids, jj)
            cols["digest_text"] = strings(self.texts, jj)
        else:
            cols["query_id"] = strings(self.key_ids, jj)
            cols["user_id"] = strings(self.users, jj)
            cols["db_id"] = strings(self.schemas, jj)
            cols["query"] = strings(self.texts, jj)
        for m in self.long_names:
            cols[m] = pa.array(self.cum[m][ii, jj], pa.int64())
        for m in self.double_names:
            cols[m] = pa.array(self.cum[m][ii, jj], pa.float64())
        return pa.table(cols)


def write_history(hist: SnapshotHistory, n_ticks: int, out_dir: str):
    """Scrape ``n_ticks`` minutes into ``out_dir`` (one parquet file per
    30 ticks). Returns the expected delta rows as one dict of concatenated
    numpy arrays, and the last snapshot."""
    os.makedirs(out_dir, exist_ok=True)
    parts, expected = [], []
    for t in range(n_ticks):
        snap, exp = hist.step()
        parts.append(snap)
        if exp is not None:
            expected.append(exp)
        if len(parts) == 30 or t == n_ticks - 1:
            pq.write_table(pa.concat_tables(parts), f"{out_dir}/part-{t:05d}.parquet")
            parts = []
    return concat(expected), snap


def concat(expected: list[dict]) -> dict:
    return {k: np.concatenate([e[k] for e in expected]) for k in expected[0]}


def write_metrics(out_dir: str, n_inst: int, n_minutes: int, seed: int) -> None:
    """Long-format metrics_db input: a fixed metric set per instance sampled
    every 10 s, integer-valued doubles, with the PostgreSQL block
    counters the buffer-hit panel pairs up."""
    rng = np.random.default_rng([seed, 2])
    names = [
        ("postgresql", "postgresql.blocks_hit"),
        ("postgresql", "postgresql.blocks_read"),
        ("postgresql", "postgresql.backends"),
        ("postgresql", "postgresql.commits"),
        ("postgresql", "postgresql.rollbacks"),
        ("postgresql", "postgresql.deadlocks"),
        ("mysql", "mysql.threads_running"),
        ("mysql", "mysql.threads_connected"),
        ("mysql", "mysql.questions"),
        ("mysql", "mysql.slow_queries"),
        ("mysql", "mysql.innodb_row_lock_time"),
        ("mysql", "mysql.bytes_received"),
    ]
    n_samples = n_minutes * 6
    ts = T0_US + np.arange(n_samples, dtype=np.int64) * 10_000_000
    tables = []
    for i in range(n_inst):
        for k, (system, name) in enumerate(names):
            level = float(rng.integers(10, 1000))
            v = np.maximum(0.0, np.round(level + rng.normal(0, level / 5, n_samples)))
            spread = rng.integers(0, 20, n_samples).astype(np.float64)
            n = n_samples
            tables.append(
                pa.table(
                    {
                        "time": pa.array(ts, pa.timestamp("us", tz="UTC")),
                        "instance_id": pa.array([f"{system[:2]}-{i:03d}"] * n, pa.string()),
                        "db_system": pa.array([system] * n, pa.string()),
                        "metric_name": pa.array([name] * n, pa.string()),
                        "metric_labels": pa.array(
                            [[("db", f"app{k % 5}")]] * n, pa.map_(pa.string(), pa.string())
                        ),
                        "metric_value": pa.array(v, pa.float64()),
                        "metric_max": pa.array(v + spread, pa.float64()),
                        "metric_min": pa.array(np.maximum(0.0, v - spread), pa.float64()),
                    }
                )
            )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.concat_tables(tables), f"{out_dir}/part-0.parquet")


_WORDS = [
    w + s
    for w in (
        "data", "query", "scan", "join", "hash", "sort", "merge", "batch", "stream", "window",
        "index", "table", "row", "column", "page", "block", "cache", "spill", "shuffle", "task",
        "stage", "plan", "filter", "group", "order", "limit", "key", "value", "node", "lock",
    )
    for s in ("", "s", "er", "ing", "ed", "ly", "ion")
]


def write_corpus(path: str, n_docs: int, seed: int, n_sources: int) -> None:
    """``documents`` table: random word texts in ``n_sources`` blocks,
    planted near-duplicate families (copies of a base text with 2-25 % of
    its words replaced), and one hot bucket of 25 identical documents."""
    hot = 25
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_WORDS, dtype=object)
    texts: list[str] = []
    while len(texts) < n_docs - hot:
        base = rng.integers(0, len(vocab), int(rng.integers(30, 90)))
        texts.append(" ".join(vocab[base]))
        if rng.random() < 0.3:  # a family of 1-4 edited copies
            for _ in range(int(rng.integers(1, 5))):
                edit = rng.choice([0.02, 0.05, 0.1, 0.25])
                toks = base.copy()
                hit = rng.random(len(toks)) < edit
                toks[hit] = rng.integers(0, len(vocab), int(hit.sum()))
                texts.append(" ".join(vocab[toks]))
    texts = texts[: n_docs - hot]
    hot_text = " ".join(vocab[rng.integers(0, len(vocab), 60)])
    for k in range(hot):
        texts.insert(int(rng.integers(0, len(texts) + 1)), hot_text)
    order = rng.permutation(n_docs)
    texts = [texts[k] for k in order]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n_docs, pa.string()),
                "source": pa.array([f"src{k % n_sources}" for k in range(n_docs)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        path,
    )


def write_events(out_dir: str, n_series: int, n_hours: int, seed: int) -> int:
    """``events`` table as a directory of 8 time-ordered parts:
    ``n_series`` event types, each a noisy level with one planted shift at
    a random hour, about two events per series per 5 minutes. Returns the
    number of events."""
    rng = np.random.default_rng([seed, 4])
    types = ["view", "click"] + [f"m{k:03d}" for k in range(n_series - 2)]
    n_slots = n_hours * 12
    per = rng.poisson(2.0, (n_series, n_slots))
    s_idx = np.repeat(np.arange(n_series), per.sum(axis=1))
    slot = np.concatenate([np.repeat(np.arange(n_slots), per[s]) for s in range(n_series)])
    level = rng.uniform(5, 50, n_series)
    shift_at = rng.integers(n_slots // 4, 3 * n_slots // 4, n_series)
    shift = rng.uniform(-0.5, 1.0, n_series) * level
    mean = level[s_idx] + np.where(slot >= shift_at[s_idx], shift[s_idx], 0.0)
    value = np.round(np.maximum(0.01, mean + rng.normal(0, 2.0, len(s_idx))), 2)
    ts = T0_US + slot * 300_000_000 + rng.integers(0, 300_000_000, len(s_idx))
    order = np.argsort(ts, kind="stable")
    n = len(order)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts[order], pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 200, n)),
            "event_type": pa.array(np.array(types, dtype=object)[s_idx[order]], pa.string()),
            "value": pa.array(value[order], pa.float64()),
            "props": pa.array([None] * n, pa.string()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    step = -(-n // 8)
    for k in range(8):
        pq.write_table(table.slice(k * step, step), f"{out_dir}/part-{k:03d}.parquet")
    return n
