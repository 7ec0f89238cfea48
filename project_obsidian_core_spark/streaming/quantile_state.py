"""T18: streaming quantiles over unbounded value streams — a
deterministic KLL-style sketch folded by the versioned-fold kernel
(`streaming/versioned_fold.py`, which owns state, version and emission).

`qan_latency_quantiles` computes exact per-key percentiles by sorting —
fine in batch, impossible on a stream whose history cannot be replayed.
The streaming answer is a mergeable quantile sketch (KLL: Karnin, Lang,
Liberty, FOCS'16): per key, a ladder of buffers where a level-i item
stands for 2^i original items; when level i overflows its capacity the
buffer is sorted and every second item promotes to level i+1.

This variant is DETERMINISTIC: instead of KLL's random even/odd coin we
alternate the kept offset per level (a per-level toggle in state), so a
replayed stream folds to the bit-identical sketch and the emitted
quantiles are reproducible — the property every gated operator here
must have.  The price is the loss of KLL's randomized-error theorem;
what survives, and what the tests pin, is the deterministic worst-case
bound: one compaction at level i shifts any rank by at most 2^i, so

    rank_error <= err_bound = Σ_i  compactions_i · 2^i

which the sketch tracks exactly and EMITS beside every quantile (the
Space-Saving err_bound contract, applied to ranks).

Exact operating point (the gate): while total items per key <= level-0
capacity, no compaction ever fires, err_bound stays 0, and the sketch
IS the sorted sample — quantiles equal the batch SQL lower order
statistic (value at rank ceil(q·n)), which a DuckDB window oracle can
express.  The approximation regime stays unit-pinned (measured rank
error <= err_bound on multi-level replays).

Emission: per touched key per batch, one row per requested quantile
with ``version`` = items absorbed so far — the superseding-versioned
contract (read the max-version rows per key, as islands/topk).  State
is <= 2·c + c·log2(n/c) longs per key — logarithmic growth beyond the
exact regime, the bound that makes this deployable where keeping the
history is not.

Batch-split note: beyond the exact regime the sketch (not its bound)
depends on micro-batch boundaries — compaction timing differs — exactly
as Space-Saving's summary depends on fold order.  Bounds hold for any
split; bit-equality holds for identical splits (replay) and everywhere
in the exact regime.
"""

from __future__ import annotations

from functools import partial
from math import ceil

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from project_obsidian_core_spark.streaming.versioned_fold import (
    versioned_fold_stream,
)

#: default per-level capacity (level 0 holds this many raw values).
QUANTILE_CAPACITY = 4096
#: quantiles emitted by the wiring below.
QUANTILE_QS = (0.5, 0.9, 0.99)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("values", T.ArrayType(T.LongType())),
        T.StructField("levels", T.ArrayType(T.IntegerType())),
        T.StructField("toggles", T.ArrayType(T.IntegerType())),
        T.StructField("n_total", T.LongType()),
        T.StructField("err_bound", T.LongType()),
        T.StructField("version", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("q_pct", T.IntegerType()),
        T.StructField("value", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("err_bound", T.LongType()),
        T.StructField("version", T.LongType()),
    ]
)


class KllSketch:
    """Deterministic KLL ladder. Pure python; unit-tested directly."""

    def __init__(self, capacity: int = QUANTILE_CAPACITY):
        self.capacity = capacity
        self.buffers: list[list[int]] = [[]]
        self.toggles: list[int] = [0]
        self.n_total = 0
        self.err_bound = 0

    def add_many(self, values) -> None:
        for v in values:
            self.buffers[0].append(int(v))
            self.n_total += 1
        self._compact()

    def _compact(self) -> None:
        i = 0
        while i < len(self.buffers):
            if len(self.buffers[i]) > self.capacity:
                buf = sorted(self.buffers[i])
                keep = buf[self.toggles[i] :: 2]
                self.toggles[i] ^= 1
                self.err_bound += 1 << i
                if i + 1 == len(self.buffers):
                    self.buffers.append([])
                    self.toggles.append(0)
                self.buffers[i] = []
                self.buffers[i + 1].extend(keep)
            i += 1

    def quantile(self, q: float) -> int:
        """Smallest value whose cumulative weight reaches ceil(q·n) —
        the lower order statistic when no compaction has fired."""
        values, levels, *_ = self.dump()
        return _weighted_quantiles(values, levels, self.n_total, (q,))[0]

    # ---- state (de)serialisation over flat parallel arrays ----
    def dump(self) -> tuple[list[int], list[int], list[int], int, int]:
        values, levels = [], []
        for i, buf in enumerate(self.buffers):
            values.extend(buf)
            levels.extend([i] * len(buf))
        return values, levels, list(self.toggles), self.n_total, self.err_bound

    @classmethod
    def load(
        cls, capacity, values, levels, toggles, n_total, err_bound
    ) -> "KllSketch":
        s = cls(capacity)
        n_levels = max(len(toggles), 1)
        s.buffers = [[] for _ in range(n_levels)]
        s.toggles = list(toggles) or [0]
        for v, lv in zip(values, levels):
            s.buffers[int(lv)].append(int(v))
        s.n_total = int(n_total)
        s.err_bound = int(err_bound)
        return s


def _weighted_quantiles(values, levels, n_total: int, qs) -> list[int]:
    """Per q, the smallest value whose cumulative weight (2^level per
    item) reaches ceil(q·n), over the flat (values, levels) arrays."""
    assert n_total > 0
    weighted = sorted(zip(values, [1 << lv for lv in levels]))
    out = []
    for q in qs:
        # ceil over the SAME double product the SQL oracle computes
        # (math.ceil(q*n) == SQL ceil(q*n) bit-for-bit on IEEE doubles)
        target = max(1, ceil(q * n_total))
        cum = 0
        for v, w in weighted:
            cum += w
            if cum >= target:
                break
        out.append(v)
    return out


def _fold_sketch(acc, pdf: pd.DataFrame, *, capacity: int):
    sketch = KllSketch.load(capacity, *acc) if acc else KllSketch(capacity)
    sketch.add_many(pdf["v"].tolist())
    return sketch.dump()


def _emit_quantiles(series, acc, version, *, qs: tuple[float, ...]):
    values, levels, _, n_total, err = acc
    n = len(qs)
    return pd.DataFrame(
        {
            "series": [str(series)] * n,
            "q_pct": [int(q * 100) for q in qs],
            "value": _weighted_quantiles(values, levels, n_total, qs),
            "n": [n_total] * n,
            "err_bound": [err] * n,
            "version": [version] * n,
        }
    )


def streaming_quantiles(
    stream: DataFrame,
    series_col: str,
    value_col: str,
    capacity: int = QUANTILE_CAPACITY,
    qs: tuple[float, ...] = QUANTILE_QS,
) -> DataFrame:
    """Wire the sketch over a stream: one state ladder per series key.
    ``value_col`` must already be integer-quantized (the caller owns the
    units — floor to micro-units for doubles, the repo-wide rule)."""
    keyed = stream.select(
        F.col(series_col).cast("string").alias("series"),
        F.col(value_col).cast("long").alias("v"),
    )
    return versioned_fold_stream(
        keyed, "series",
        partial(_fold_sketch, capacity=capacity), partial(_emit_quantiles, qs=qs),
        STATE_SCHEMA, OUTPUT_SCHEMA,
    )
