"""T19: streaming fixed-k weighted sampling — the C24 priority sampler
as a stateful stream operator.

A Bernoulli weighted sampler streams trivially (stateless filter) but
gives a random-size sample; budgeted pipelines want EXACTLY k per group.
Classic weighted reservoirs (A-ES) keep the k largest u^(1/w) keys —
a min-k/max-k FOLD, which is commutative and associative, so the
streaming form is exact, not approximate: any arrival order, any
micro-batch split, same final sample.  With C24's integer-quantized
priority (u DIV w over the salted 60-bit hash; see
datapipe/curation.priority_sample for why not u^(1/w)) the drained
state is BIT-IDENTICAL to the batch operator on the same rows — the
strongest streaming<->batch gate in the repo: full regime, no "exact
operating point" restriction, because keep-k-smallest loses nothing no
matter how the stream is sliced.

State per group: exactly k (prio, id, weight) triples (less while the
group is filling) — O(k) forever.  Emission: superseding versioned
re-emissions of the current sample per touched group (islands/topk
contract, max-version read) — the fold runs on the versioned-fold kernel
(`streaming/versioned_fold.py`), which owns state, version and emission.

The priority is computed JVM-side BEFORE the state operator (a codegen
expression on the stream), so the python fold only merges sorted
triples — no hashing in python, no drift risk against the batch twin.
"""

from __future__ import annotations

from functools import partial

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from project_obsidian_core_spark.datapipe.text import shared_hash60
from project_obsidian_core_spark.streaming.versioned_fold import (
    versioned_fold_stream,
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("prios", T.ArrayType(T.LongType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("weights", T.ArrayType(T.LongType())),
        T.StructField("version", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("weight", T.LongType()),
        T.StructField("prio", T.LongType()),
        T.StructField("version", T.LongType()),
    ]
)


def fold_topk(sample: list[tuple[int, int, int]], k: int, batch) -> list:
    """Merge (prio, id, weight) triples, keep the k smallest by
    (prio, id) — pure, commutative fold; unit-tested directly."""
    sample.extend(batch)
    sample.sort(key=lambda t: (t[0], t[1]))
    del sample[k:]
    return sample


def _fold_sample(acc, pdf: pd.DataFrame, *, k: int):
    sample = list(zip(*acc)) if acc else []
    fold_topk(
        sample,
        k,
        zip(*(pdf[c].astype(int).tolist() for c in ("prio", "id", "weight"))),
    )
    return (
        [t[0] for t in sample],
        [t[1] for t in sample],
        [t[2] for t in sample],
    )


def _emit_sample(grp, acc, version):
    prios, ids, weights = acc
    n = len(ids)
    return pd.DataFrame(
        {
            "grp": [str(grp)] * n,
            "id": ids,
            "weight": weights,
            "prio": prios,
            "version": [version] * n,
        }
    )


def streaming_priority_sample(
    stream: DataFrame,
    k: int,
    weight: Column,
    group_col: str,
    id_col: str = "doc_id",
    salt: str = "psample",
) -> DataFrame:
    """Wire the fold over a stream. Same hash, same salt, same integer
    DIV as the batch sampler — the drained max-version state per group
    equals `priority_sample(batch_df, k, weight, (group_col,))`."""
    w = weight.cast("long")
    u = shared_hash60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    keyed = (
        stream.filter(w > 0)
        .withColumn("_u", u)
        .withColumn("_w", w)
        .select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(id_col).alias("id"),
            F.col("_w").alias("weight"),
            F.expr("_u DIV _w").alias("prio"),
        )
    )
    return versioned_fold_stream(
        keyed, "grp", partial(_fold_sample, k=k), _emit_sample,
        STATE_SCHEMA, OUTPUT_SCHEMA,
    )
