"""The bucket-series kernel (`streaming/sequence_state.py`): its group-
function contract over every emitter, and a source pin that keeps it the
family's only implementation.

Fifteen stream operators share one state shape — exact-int per-bucket
sums plus a rows-absorbed ``version`` — and one group function,
``bucket_series_fn(emit)``; each operator contributes only its ``emit``.
The contract below is what the max-version drain in
``plans/streaming_queries.py`` relies on, checked without Spark through
the shared ``FakeState``:

* an empty batch emits nothing and creates no state;
* ``version`` is the number of rows absorbed, across batches, and every
  emitted row carries it;
* each emitted frame's columns are its output schema's fields, in order
  (Spark matches pandas columns to the schema by name, so a drifted
  frame would fail only at replay time).

The pin fails loudly if a second copy of the fold or of the
``applyInPandasWithState`` wrapper is added back.
"""

from __future__ import annotations

import ast
import os
from functools import partial

import pandas as pd
import pytest

from project_obsidian_core_spark.streaming import sequence_state as S

PKG = os.path.dirname(os.path.abspath(S.__file__)).rsplit(os.sep, 1)[0]

EMITTERS = {
    "ewma": (
        partial(S.emit_ewma, alpha_fast=0.3, alpha_slow=0.05),
        S.EWMA_OUTPUT_SCHEMA,
    ),
    "pettitt": (S.emit_pettitt, S.PETTITT_OUTPUT_SCHEMA),
    "bollinger": (S.emit_bollinger, S.BOLLINGER_OUTPUT_SCHEMA),
    "drawdown": (S.emit_drawdown, S.DRAWDOWN_OUTPUT_SCHEMA),
    "cusum": (S.emit_cusum, S.CUSUM_OUTPUT_SCHEMA),
    "holt": (partial(S.emit_holt, alpha=0.5, beta=0.3), S.HOLT_OUTPUT_SCHEMA),
    "acf": (partial(S.emit_acf, max_lag=5), S.ACF_OUTPUT_SCHEMA),
    "theil_sen": (S.emit_theilsen, S.THEILSEN_OUTPUT_SCHEMA),
    "spc": (S.emit_spc, S.SPC_OUTPUT_SCHEMA),
    "seasonal": (S.emit_seasonal, S.SEASONAL_OUTPUT_SCHEMA),
    "autoperiod": (S.emit_autoperiod, S.AUTOPERIOD_OUTPUT_SCHEMA),
    "winsorize": (S.emit_winsorize, S.WINSOR_OUTPUT_SCHEMA),
    "range_rate": (S.emit_range_rate, S.RANGE_RATE_OUTPUT_SCHEMA),
    "forecast_backtest": (
        partial(S.emit_forecast_backtest, alpha=0.5, beta=0.3),
        S.FORECAST_BT_OUTPUT_SCHEMA,
    ),
    "supplier_hhi": (S.emit_hhi, S.HHI_OUTPUT_SCHEMA),
}


def _batch(buckets):
    return pd.DataFrame(
        {"bucket": buckets, "v": [1_000 + 37 * (b % 11) for b in buckets]},
        dtype="int64",
    )


@pytest.mark.parametrize("name", sorted(EMITTERS))
def test_kernel_contract(fake_state, name):
    emit, schema = EMITTERS[name]
    fn = S.bucket_series_fn(emit)
    fields = [f.name for f in schema.fields]

    state = fake_state()
    assert list(fn(("k",), iter([_batch([])]), state)) == []
    assert not state.exists

    # two batches over 40 hourly buckets; batch 2 revisits batch 1's
    # buckets, so rows absorbed (the version) outrun distinct buckets
    b1 = _batch(list(range(100, 120)) * 2)
    b2 = _batch(list(range(110, 140)))
    absorbed = 0
    for batch in (b1, b2):
        out = list(fn(("k",), iter([batch]), state))
        absorbed += len(batch)
        assert state.get[2] == absorbed
        assert len(out) == 1, "this series is long enough for every emitter"
        frame = out[0]
        assert list(frame.columns) == fields
        assert len(frame) and (frame["version"] == absorbed).all()
    assert list(state.get[0]) == list(range(100, 140))


def _calls(tree, name):
    return [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and name
        in (getattr(node.func, "id", None), getattr(node.func, "attr", None))
    ]


def test_fold_bucket_sums_has_one_call_site():
    sites = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                sites += [path] * len(_calls(tree, "fold_bucket_sums"))
    assert sites == [S.__file__], sites


def test_sequence_state_has_ten_apply_in_pandas_sites():
    # the bucket-series kernel plus the nine stateful operators with a
    # state shape of their own (transitions, funnel, sessions, as-of,
    # mannwhitney, kmv, last_touch, dwell, state_budget)
    with open(S.__file__) as fh:
        tree = ast.parse(fh.read())
    assert len(_calls(tree, "applyInPandasWithState")) == 10
