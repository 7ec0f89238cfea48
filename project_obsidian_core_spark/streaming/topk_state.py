"""Streaming top-k over an UNBOUNDED key space — Space-Saving in state.

`stream_top_digests` holds one state row per digest, which is correct
because perf-schema caps digest cardinality at ~10k. A stream whose key
space is unbounded (URLs, tokens, user agents) breaks that: exact
per-key state IS the corpus. Two-pass pruning (analytics/heavy_hitters)
needs a second pass a stream never gets — so the streaming answer is the
Space-Saving sketch (Metwally et al., ICDT'05), the summary with the
strongest known guarantees at this size:

- capacity-m summary per SHARD (keys hash-shard, so shard summaries
  cover disjoint key sets and never need cross-shard reconciliation);
- any key with true shard count > n_shard/m is IN the summary, and each
  estimate overshoots its true count by at most its recorded
  ``err_bound`` (the count the evicted predecessor bequeathed);
- folding a whole micro-batch: observed keys already in the summary add
  their counts; new keys evict the current minimum and inherit its
  count as error. Associative enough for batch-at-a-time folding; the
  guarantee holds for any arrival order.

Emission: per batch, each touched shard re-emits its full summary with
``version`` = non-NULL rows absorbed so far (superseding contract — read
the max-version rows per shard, same as the islands operator); the fold
runs on the versioned-fold kernel (`streaming/versioned_fold.py`), which
owns state, version and emission. State is
EXACTLY 3·m scalars per shard regardless of stream length — the bound
that makes this deployable where the exact operator is not.
"""

from __future__ import annotations

from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from project_obsidian_core_spark.streaming.versioned_fold import (
    versioned_fold_stream,
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("errs", T.ArrayType(T.LongType())),
        T.StructField("version", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("key", T.StringType()),
        T.StructField("est_count", T.LongType()),
        T.StructField("err_bound", T.LongType()),
        T.StructField("version", T.LongType()),
    ]
)


def fold_space_saving(
    summary: dict[str, tuple[int, int]], capacity: int, batch_counts
) -> dict[str, tuple[int, int]]:
    """Fold (key -> observed count) into a Space-Saving summary
    (key -> (est, err)). Pure function; unit-tested directly."""
    for key, c in batch_counts:
        c = int(c)
        if key in summary:
            est, err = summary[key]
            summary[key] = (est + c, err)
        elif len(summary) < capacity:
            summary[key] = (c, 0)
        else:
            evict_key = min(summary, key=lambda k: (summary[k][0], k))
            floor_est = summary[evict_key][0]
            del summary[evict_key]
            summary[key] = (floor_est + c, floor_est)
    return summary


def _fold_summary(acc, pdf: pd.DataFrame, *, capacity: int):
    summary = {k: (c, e) for k, c, e in zip(*acc)} if acc else {}
    fold_space_saving(summary, capacity, pdf["key"].value_counts().items())
    ks = list(summary)
    return ks, [summary[k][0] for k in ks], [summary[k][1] for k in ks]


def _emit_summary(shard, acc, version):
    ks, ests, errs = acc
    n = len(ks)
    return pd.DataFrame(
        {
            "shard": [int(shard)] * n,
            "key": ks,
            "est_count": ests,
            "err_bound": errs,
            "version": [version] * n,
        }
    )


def streaming_topk(
    stream: DataFrame,
    key_col: str = "key",
    n_shards: int = 8,
    capacity: int = 64,
) -> DataFrame:
    """Wire Space-Saving over a streaming DataFrame. ``capacity`` is per
    shard, and so is the guarantee: a key is guaranteed present in its
    shard's summary iff its count exceeds n_shard/capacity, where
    n_shard is the number of rows THAT SHARD received (the classic
    Space-Saving pigeonhole). Hash-sharding makes n_shard ≈ n/n_shards
    only when key mass is spread; a skewed shard weakens its own bound
    (never the other shards'), so size ``capacity`` for the largest
    shard you expect, not the average."""
    # NULL keys are not counted (nor are they in ``version``), so they
    # never reach the fold
    sharded = stream.filter(F.col(key_col).isNotNull()).select(
        (F.abs(F.xxhash64(F.col(key_col))) % n_shards)
        .cast("int")
        .alias("shard"),
        F.col(key_col).alias("key"),
    )
    return versioned_fold_stream(
        sharded, "shard", partial(_fold_summary, capacity=capacity),
        _emit_summary, STATE_SCHEMA, OUTPUT_SCHEMA,
    )
