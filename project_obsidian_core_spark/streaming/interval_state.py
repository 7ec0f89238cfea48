"""Stateful streaming interval coalescing — live "islands" per key.

The streaming twin of :func:`operators.intervals.interval_merge`
(uptime/coverage accounting on a live feed): state per key is the
CURRENT disjoint island set, and every incoming interval folds into it
incrementally — no window over history, no reprocessing. The batch
operator is one sorted sweep; the streaming fold exploits that interval
union is associative and commutative, so ANY arrival order of the same
intervals converges to the same island set (pinned by the
shuffled-replay equivalence test against the batch operator).

Mechanics
---------
- state = three parallel arrays (island starts, ends, raw-interval
  counts), starts strictly increasing, islands pairwise non-touching —
  the canonical form; each incoming interval binary-searches its overlap
  span (touch-inclusive, matching the batch operator's
  ``start > prev_max`` rule) and splices in O(merged span).
- each micro-batch EMITS the full updated island set for keys it
  touched, stamped with ``version`` = total intervals absorbed by that
  key so far. Consumers (and the tests) read the per-key MAX-version
  rows — the same superseding contract a compacted changelog topic has;
  intermediate versions are the live dashboard's progressive view.
- state size = open islands per key, which telemetry-shaped data keeps
  orders of magnitude below interval count; ``evict=True`` drops islands
  whose end passed the watermark (they can never merge again) after
  emitting them as FINAL, on the watermark-freeze kernel.

Scale: groups hash-partition by key across executors; per-batch work is
O(batch · log islands + merged spans). The state store checkpoints the
arrays as typed Arrow columns per micro-batch.
"""

from __future__ import annotations

import bisect
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from project_obsidian_core_spark.streaming.freeze_fold import (
    FreezeOp,
    freeze_fold_stream,
)
from project_obsidian_core_spark.streaming.versioned_fold import (
    versioned_fold_stream,
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("s", T.ArrayType(T.LongType())),
        T.StructField("e", T.ArrayType(T.LongType())),
        T.StructField("n", T.ArrayType(T.LongType())),
        T.StructField("version", T.LongType()),
    ]
)


def output_schema(key_fields: Sequence[T.StructField]) -> T.StructType:
    """Emitted-row schema. Key field TYPES are taken from the input
    relation (``streaming_islands`` passes ``stream.schema[k]``): the
    fold copies key values through verbatim, so declaring them all as
    strings would fail Arrow conversion the moment a group key is, say,
    a long host_id."""
    return T.StructType(
        [
            *[T.StructField(f.name, f.dataType) for f in key_fields],
            T.StructField("island_start_us", T.LongType()),
            T.StructField("island_end_us", T.LongType()),
            T.StructField("n_intervals", T.LongType()),
            T.StructField("version", T.LongType()),
            T.StructField("is_final", T.BooleanType()),
        ]
    )


def fold_interval(
    s_arr: np.ndarray, e_arr: np.ndarray, n_arr: np.ndarray, s: int, e: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Splice one interval [s, e) into a canonical island set.

    Islands overlap-or-TOUCH the new interval iff ``end >= s`` and
    ``start <= e`` — binary search on the (strictly increasing) end and
    start arrays brackets the merge span.
    """
    lo = int(np.searchsorted(e_arr, s, side="left"))
    hi = int(np.searchsorted(s_arr, e, side="right"))
    if lo >= hi:  # disjoint from every island: insert at lo
        return (
            np.insert(s_arr, lo, s),
            np.insert(e_arr, lo, e),
            np.insert(n_arr, lo, 1),
        )
    new_s = min(int(s_arr[lo]), s)
    new_e = max(int(e_arr[hi - 1]), e)
    new_n = int(n_arr[lo:hi].sum()) + 1
    return (
        np.concatenate([s_arr[:lo], [new_s], s_arr[hi:]]),
        np.concatenate([e_arr[:lo], [new_e], e_arr[hi:]]),
        np.concatenate([n_arr[:lo], [new_n], n_arr[hi:]]),
    )


def _fold_islands(acc, pdf: pd.DataFrame):
    s_arr, e_arr, n_arr = (
        np.asarray(a, dtype=np.int64) for a in (acc or ((), (), ()))
    )
    for s, e in zip(pdf["start_us"].to_numpy(), pdf["end_us"].to_numpy()):
        s_arr, e_arr, n_arr = fold_interval(s_arr, e_arr, n_arr, int(s), int(e))
    return s_arr.tolist(), e_arr.tolist(), n_arr.tolist()


def freeze_islands(acc, wm_us: int):
    """Islands whose end is older than the watermark can never merge
    again (the watermark bounds how late a new interval's start may be):
    they freeze, are emitted once with ``is_final=True`` and leave state.
    Ends are strictly increasing in the canonical form, so the closed
    islands (``end < wm``) are a prefix."""
    k = bisect.bisect_left(acc[1], wm_us)
    if not k:
        return None, acc
    return tuple(a[:k] for a in acc), tuple(a[k:] for a in acc)


def islands_freeze(key_cols: Sequence[str]) -> FreezeOp:
    """The islands' freeze-kernel pieces: no wake rule (see
    :func:`streaming_islands`).  ``live`` always carries ``is_final``
    (False in the keep mode) because both modes' output has it."""
    keys = list(key_cols)

    def emit(key, acc, version: int, final=False):
        s, e, n = acc
        if not s:
            return None
        vals = key if len(keys) > 1 else (key,)
        m = len(s)
        return pd.DataFrame(
            {
                **{k: [vals[i]] * m for i, k in enumerate(keys)},
                "island_start_us": np.asarray(s, dtype=np.int64),
                "island_end_us": np.asarray(e, dtype=np.int64),
                "n_intervals": np.asarray(n, dtype=np.int64),
                "version": np.full(m, version, dtype=np.int64),
                "is_final": np.full(m, final, dtype=bool),
            }
        )

    return FreezeOp(_fold_islands, freeze_islands, emit)


def streaming_islands(
    stream: DataFrame, key_cols: Sequence[str], evict: bool = False
) -> DataFrame:
    """Wire the stateful fold over a streaming DataFrame with columns
    ``(*key_cols, start_us, end_us)``. Emits superseding island-set
    versions per key; the current set = all ``is_final`` rows plus the
    max-version live rows. With ``evict=True`` (requires a watermarked
    source) closed islands leave state — the unbounded-stream mode, run
    by the watermark-freeze kernel (``streaming/freeze_fold.py``); the
    keep mode runs the same fold and emitter on the versioned fold.

    Evict mode has no wake rule, so it runs with ``NoTimeout`` like the
    group function it replaced: a checkpoint written under ``NoTimeout``
    fails to resume under ``EventTimeTimeout`` on PySpark 4.1.2
    (``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``).  The gap that leaves:
    islands freeze only when their key receives rows, so the closed
    islands of a key that goes quiet never finalize.  The drained set is
    still correct (they stay in that key's max-version live rows), but
    that key's state is not bounded."""
    keys = list(key_cols)
    out = output_schema([stream.schema[k] for k in keys])
    op = islands_freeze(keys)
    if evict:
        return freeze_fold_stream(stream, keys, op, STATE_SCHEMA, out)
    return versioned_fold_stream(
        stream, keys, op.fold, op.live, STATE_SCHEMA, out
    )
