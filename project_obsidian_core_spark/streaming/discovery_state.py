"""T17: streaming per-user discovery timeline — the live twin of the A38
batch operator (plans/behavior_queries.events_discovery_timeline).

State per user is the min-(ts, event_id) first occurrence of every event
type seen so far — a commutative/associative MIN fold, so ANY arrival
order (late data, shuffled replay) converges to the batch answer.  The
subtlety a naive "emit on first sight" misses: an out-of-order batch can
carry an EARLIER occurrence of an already-discovered type, which can
reshuffle the user's whole rank order retroactively.  The emission
contract is therefore SUPERSEDING VERSIONED SETS (the islands/topk
contract): each batch that touches a user re-emits the user's full
discovery timeline with a monotonically increasing ``version``; readers
take each user's max-version rows.  Final max-version rows ≡ the batch
A38 output, pinned by a shuffled multi-batch replay test.

State bound: one (type, ts, id) triple per event type the user ever
used — the same |users|x|types| bound as the batch operator's output,
independent of event volume.  The fold runs on the versioned-fold kernel
(`streaming/versioned_fold.py`), which owns state, version and emission.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from project_obsidian_core_spark.streaming.versioned_fold import (
    versioned_fold_stream,
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("types", T.ArrayType(T.StringType())),
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("eids", T.ArrayType(T.LongType())),
        T.StructField("version", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("first_ts_us", T.LongType()),
        T.StructField("first_event_id", T.LongType()),
        T.StructField("discovery_rank", T.IntegerType()),
        T.StructField("version", T.LongType()),
    ]
)


def fold_first_seen(
    seen: dict[str, tuple[int, int]], rows
) -> dict[str, tuple[int, int]]:
    """Fold (event_type, ts_us, event_id) rows into the per-type min
    (ts_us, event_id).  Pure, commutative in row order; unit-tested
    directly."""
    for et, ts, eid in rows:
        cur = seen.get(et)
        cand = (int(ts), int(eid))
        if cur is None or cand < cur:
            seen[et] = cand
    return seen


def _fold_discovery(acc, pdf: pd.DataFrame):
    seen = {t: (ts, e) for t, ts, e in zip(*acc)} if acc else {}
    fold_first_seen(
        seen,
        zip(
            pdf["event_type"].tolist(),
            pdf["ts_us"].tolist(),
            pdf["event_id"].tolist(),
        ),
    )
    types = list(seen)
    return types, [seen[t][0] for t in types], [seen[t][1] for t in types]


def _emit_timeline(user, acc, version):
    # by first (ts, event_id); the sort is stable over the fold's order
    ordered = sorted(zip(*acc), key=lambda r: (r[1], r[2]))
    n = len(ordered)
    return pd.DataFrame(
        {
            "user_id": [int(user)] * n,
            "event_type": [t for t, _, _ in ordered],
            "first_ts_us": [ts for _, ts, _ in ordered],
            "first_event_id": [e for _, _, e in ordered],
            "discovery_rank": list(range(1, n + 1)),
            "version": [version] * n,
        }
    )


def streaming_discovery(stream: DataFrame) -> DataFrame:
    """Wire the discovery fold over a streaming DataFrame with columns
    (user_id, event_type, ts, event_id)."""
    rows = stream.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    return versioned_fold_stream(
        rows, "user_id", _fold_discovery, _emit_timeline,
        STATE_SCHEMA, OUTPUT_SCHEMA,
    )
