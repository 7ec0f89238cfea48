"""The versioned-fold kernel (`streaming/versioned_fold.py`): its group-
function contract over every operator that runs on it, and source pins
that keep it the only implementation.

Twenty-two stream operators share one ``GroupState`` protocol: a state row
``(*acc, version)`` and one group function, ``versioned_fold_fn(fold,
emit)``.  The 15 bucket-series operators contribute an ``emit`` to
``bucket_series_fn``; seven more contribute a ``(fold, emit)`` pair.  The
contract below is what the max-version drain in
``plans/streaming_queries.py`` relies on, checked without Spark through
the shared ``FakeState``:

* an empty batch emits nothing and creates no state;
* ``version`` is the number of rows absorbed, across batches, and every
  emitted row carries it;
* each emitted frame's columns are its output schema's fields, in order
  (Spark matches pandas columns to the schema by name, so a drifted
  frame would fail only at replay time), and the state row has one value
  per state-schema field.

The pins fail loudly if a second copy of the bucket fold or of the
superseding ``applyInPandasWithState`` call is added back, or if a
stream twin starts and drains its own query instead of calling the
replay harness's ``_drain``.
"""

from __future__ import annotations

import ast
import os
from functools import partial

import pandas as pd
import pytest

from project_obsidian_core_spark.streaming import discovery_state as D
from project_obsidian_core_spark.streaming import interval_state as IS
from project_obsidian_core_spark.streaming import quantile_state as Q
from project_obsidian_core_spark.streaming import sample_state as SA
from project_obsidian_core_spark.streaming import sequence_state as S
from project_obsidian_core_spark.streaming import topk_state as TK
from project_obsidian_core_spark.streaming import versioned_fold as VF

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


def _bucket_batch(rows):
    buckets = [100 + r % 40 for r in rows]
    return pd.DataFrame(
        {"bucket": buckets, "v": [1_000 + 37 * (b % 11) for b in buckets]},
        dtype="int64",
    )


def _event_batch(rows):
    # three event types cycling over the rows; one distinct ts per row
    return pd.DataFrame(
        {
            "event_type": [("view", "cart", "buy")[r % 3] for r in rows],
            "ts_us": [1_000_000 * (r * 7 % 97) + r for r in rows],
            "event_id": list(rows),
        }
    )


#: name -> (fold, emit, key, input batch of row ids, state, output schema)
FOLDS = {
    "mannwhitney": (
        S._fold_mannwhitney_frame,
        S.emit_mannwhitney,
        "t",
        lambda rows: pd.DataFrame(
            {"value": [float(r % 9) for r in rows], "is_a": [r % 2 == 0 for r in rows]}
        ),
        S.MANNWHITNEY_STATE_SCHEMA,
        S.MANNWHITNEY_OUTPUT_SCHEMA,
    ),
    "kmv": (
        partial(S._fold_kmv_frame, k=8),
        partial(S.emit_kmv, k=8),
        "t",
        lambda rows: pd.DataFrame({"h": [r * 7919 % 1000 for r in rows]}),
        S.KMV_STATE_SCHEMA,
        S.KMV_OUTPUT_SCHEMA,
    ),
    "dwell": (
        S._fold_events,
        S.emit_dwell,
        7,
        _event_batch,
        S.DWELL_STATE_SCHEMA,
        S.DWELL_OUTPUT_SCHEMA,
    ),
    "quantiles": (
        partial(Q._fold_sketch, capacity=16),
        partial(Q._emit_quantiles, qs=Q.QUANTILE_QS),
        "s",
        lambda rows: pd.DataFrame({"v": [r * 31 % 101 for r in rows]}),
        Q.STATE_SCHEMA,
        Q.OUTPUT_SCHEMA,
    ),
    "priority_sample": (
        partial(SA._fold_sample, k=4),
        SA._emit_sample,
        "g",
        lambda rows: pd.DataFrame(
            {
                "prio": [r * 37 % 211 for r in rows],
                "id": list(rows),
                "weight": [1 + r % 5 for r in rows],
            }
        ),
        SA.STATE_SCHEMA,
        SA.OUTPUT_SCHEMA,
    ),
    "topk": (
        partial(TK._fold_summary, capacity=4),
        TK._emit_summary,
        3,
        lambda rows: pd.DataFrame({"key": [f"k{r % 6}" for r in rows]}),
        TK.STATE_SCHEMA,
        TK.OUTPUT_SCHEMA,
    ),
    "discovery": (
        D._fold_discovery,
        D._emit_timeline,
        7,
        _event_batch,
        D.STATE_SCHEMA,
        D.OUTPUT_SCHEMA,
    ),
}

CASES = {
    **{
        name: (
            S.bucket_series_fn(emit),
            "k",
            _bucket_batch,
            S.EWMA_STATE_SCHEMA,
            schema,
        )
        for name, (emit, schema) in EMITTERS.items()
    },
    **{
        name: (VF.versioned_fold_fn(fold, emit), key, batch, state, out)
        for name, (fold, emit, key, batch, state, out) in FOLDS.items()
    },
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_kernel_contract(fake_state, name):
    fn, key, batch, state_schema, schema = CASES[name]
    fields = [f.name for f in schema.fields]

    state = fake_state()
    assert list(fn((key,), iter([batch([])]), state)) == []
    assert not state.exists

    # two batches; batch 2 revisits batch 1's rows (same buckets, keys,
    # values), so rows absorbed (the version) outrun the distinct rows
    b1 = batch(list(range(0, 20)) * 2)
    b2 = batch(list(range(10, 40)))
    absorbed = 0
    for frame_in in (b1, b2):
        out = list(fn((key,), iter([frame_in]), state))
        absorbed += len(frame_in)
        assert len(state.get) == len(state_schema.fields)
        assert state.get[-1] == absorbed
        assert len(out) == 1, "this input is long enough for every operator"
        frame = out[0]
        assert list(frame.columns) == fields
        assert len(frame) and (frame["version"] == absorbed).all()
    if name in EMITTERS:
        assert list(state.get[0]) == list(range(100, 140))


def test_topk_fold_ignores_null_keys():
    """A NULL key is never counted: the Space-Saving fold skips it, and
    ``streaming_topk`` filters it before the kernel so that it is not in
    ``version`` either (see ``test_streaming_topk_drops_null_keys``)."""
    fold = FOLDS["topk"][0]
    with_nulls = pd.DataFrame({"key": ["a", None, "b", None, "a"]})
    assert fold(None, with_nulls) == fold(None, with_nulls.dropna())


def test_streaming_topk_drops_null_keys(spark, tmp_path):
    from project_obsidian_core_spark.plans.streaming_queries import (
        _drain,
        _replay,
    )

    def drain(tag, keys):
        src = str(tmp_path / tag)
        spark.createDataFrame([(k,) for k in keys], "key string").write.parquet(
            src
        )
        out = TK.streaming_topk(_replay(spark, src), n_shards=1, capacity=4)
        return sorted(
            (r.key, r.est_count, r.version)
            for r in _drain(spark, out, "append").collect()
        )

    # NULL keys leave both the counts and the version untouched, and a
    # batch of only NULL keys emits nothing
    assert drain("mixed", ["a", None, "b", None, "a"]) == [
        ("a", 2, 3),
        ("b", 1, 3),
    ]
    assert drain("only_null", [None, None]) == []


def _calls(tree, name):
    return [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and name
        in (getattr(node.func, "id", None), getattr(node.func, "attr", None))
    ]


def _package_trees():
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield path, fh.read()


def test_fold_bucket_sums_has_one_call_site():
    sites = []
    for path, src in _package_trees():
        sites += [path] * len(_calls(ast.parse(src), "fold_bucket_sums"))
    assert sites == [S.__file__], sites


#: the replay harness of ``plans/streaming_queries.py`` plus the one twin
#: whose sink is not a memory table (``stream_cdc_merge``'s foreachBatch
#: MERGE into a snapshot)
DRAIN_OWNERS = {
    "_materialize",
    "_events_src_ordered",
    "_drain",
    "stream_cdc_merge",
}


def test_only_the_harness_starts_streams():
    """No twin grows its own drain back: ``writeStream``, ``queryName``
    and ``tempfile.mkdtemp`` appear only in the harness helpers."""
    from project_obsidian_core_spark.plans import streaming_queries as SQ

    with open(SQ.__file__) as fh:
        tree = ast.parse(fh.read())
    owners = set()
    for fn in tree.body:
        for node in ast.walk(fn):
            if isinstance(node, ast.Attribute) and node.attr in (
                "writeStream",
                "queryName",
                "mkdtemp",
            ):
                assert isinstance(fn, ast.FunctionDef), ast.dump(node)
                owners.add(fn.name)
    assert owners == DRAIN_OWNERS, owners


def test_package_has_four_apply_in_pandas_sites():
    # one per stream kernel (versioned fold, watermark freeze) plus the
    # counter-reset delta (delta_stream) and last_touch's exactly-once
    # emission (sequence_state)
    sites = {}
    for path, src in _package_trees():
        n = len(_calls(ast.parse(src), "applyInPandasWithState"))
        if n:
            sites[os.path.relpath(path, PKG)] = n
    assert sites == {
        os.path.join("streaming", f): 1
        for f in (
            "versioned_fold.py",
            "freeze_fold.py",
            "delta_stream.py",
            "sequence_state.py",
        )
    }, sites
    for mod in (D, Q, SA, TK, IS):
        with open(mod.__file__) as fh:
            tree = ast.parse(fh.read())
        used = {
            getattr(node, "id", None)
            or getattr(node, "attr", None)
            or getattr(node, "name", None)
            for node in ast.walk(tree)
        }
        assert "GroupState" not in used, mod
        assert not [
            c
            for c in _calls(tree, "update")
            if getattr(getattr(c.func, "value", None), "id", None) == "state"
        ], mod
