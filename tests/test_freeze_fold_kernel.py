"""The watermark-freeze kernel (`streaming/freeze_fold.py`): its group-
function contract over all five evicting operators, driven through the
shared ``FakeState`` without Spark.

* an empty batch emits nothing and creates no state;
* a timeout where nothing froze (a spurious wake) re-arms and writes
  state but neither bumps ``version`` nor emits;
* a timeout where something froze (a flush) bumps ``version`` by 1;
* every armed timeout lies past the watermark (``FakeState`` asserts it),
  and a call that arms none leaves none (``FakeState.drive`` clears the
  timeout first, as Spark does): a finalized funnel key arms no timeout;
* each frozen part is emitted as final rows exactly once, and every
  frame has its output schema's columns in order.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import types as T

from project_obsidian_core_spark.streaming import interval_state as IS
from project_obsidian_core_spark.streaming import sequence_state as S
from project_obsidian_core_spark.streaming.freeze_fold import freeze_fold_fn

T0 = 1_700_000_000_000_000  # µs
HOUR = 3_600_000_000
GAP = 60_000_000
STAGES = ("view", "click", "purchase")

#: name -> (op, state schema, output schema)
CASES = {
    "transitions": (S.TRANSITIONS_FREEZE, S.STATE_SCHEMA, S.EVICT_OUTPUT_SCHEMA),
    "funnel": (
        S.funnel_freeze(STAGES, HOUR),
        S.FUNNEL_EVICT_STATE_SCHEMA,
        S.FUNNEL_EVICT_OUTPUT_SCHEMA,
    ),
    "sessions": (
        S.session_freeze(GAP),
        S.SESSION_EVICT_STATE_SCHEMA,
        S.SESSION_EVICT_OUTPUT_SCHEMA,
    ),
    "asof": (S.ASOF_FREEZE, S.ASOF_STATE_SCHEMA, S.ASOF_EVICT_OUTPUT_SCHEMA),
    "islands": (
        IS.islands_freeze(["host"]),
        IS.STATE_SCHEMA,
        IS.output_schema([T.StructField("host", T.StringType())]),
    ),
}
TIMED = [name for name, (op, _, _) in CASES.items() if op.wake is not None]
KEY = {"islands": ("h1",)}


def _batch(name, rows, t0=T0):
    """``rows`` events from ``t0``: 10 s apart, with a 100 s gap after
    every fourth (so gap sessions split), cycling the funnel stages, and
    every third row a purchase on the as-of join's right side.  Islands
    get one 5 s interval per row."""
    ts = [t0 + r * 10_000_000 + (r // 4) * 100_000_000 for r in range(rows)]
    if name == "islands":
        return pd.DataFrame({"start_us": ts, "end_us": [t + 5_000_000 for t in ts]})
    return pd.DataFrame(
        {
            "ts_us": ts,
            "event_id": [t0 // 1000 + r for r in range(rows)],
            "event_type": [STAGES[r % 3] for r in range(rows)],
            "cents": [100 + r for r in range(rows)],
            "side": ["R" if r % 3 == 2 else "L" for r in range(rows)],
        }
    )


class Driver:
    def __init__(self, name, fake_state):
        op, state_schema, self.schema = CASES[name]
        self.fn = freeze_fold_fn(op, state_schema)
        self.vpos = state_schema.fieldNames().index("version")
        self.key = KEY.get(name, (7,))
        self.state = fake_state(wm_ms=T0 // 1000 - 1_000)

    def __call__(self, *frames, wm_us=None, timed_out=False):
        if wm_us is not None:
            self.state.wm_ms = wm_us // 1000
        out = self.state.drive(self.fn, self.key, frames, timed_out)
        for frame in out:
            assert list(frame.columns) == self.schema.fieldNames()
            assert frame["version"].nunique() == 1
        return out

    @property
    def version(self):
        return self.state.get[self.vpos]


def _finals(out):
    return [f for f in out if f["is_final"].all()]


@pytest.mark.parametrize("name", sorted(CASES))
def test_empty_batch_creates_no_state(fake_state, name):
    d = Driver(name, fake_state)
    assert d(_batch(name, 0)) == []
    assert d() == []
    assert not d.state.exists and d.state.timeout_ms is None


@pytest.mark.parametrize("name", sorted(TIMED))
def test_spurious_wake_rearms_quietly(fake_state, name):
    d = Driver(name, fake_state)
    b = _batch(name, 12)
    out = d(b)
    assert d.version == len(b) and out and not _finals(out)
    armed = d.state.timeout_ms
    assert armed is not None
    # the watermark has not reached anything freezable yet
    assert d(timed_out=True) == []
    assert d.version == len(b)
    assert d.state.timeout_ms == armed


@pytest.mark.parametrize("name", sorted(TIMED))
def test_flush_bumps_version_and_finalizes_once(fake_state, name):
    d = Driver(name, fake_state)
    b = _batch(name, 12)
    d(b)
    flushed = d(wm_us=T0 + 10 * HOUR, timed_out=True)
    assert d.version == len(b) + 1
    assert flushed and all((f["version"] == len(b) + 1).all() for f in flushed)
    assert len(_finals(flushed)) == 1
    # a second wake at the same watermark finds nothing left to freeze
    assert d(timed_out=True) == []
    assert d.version == len(b) + 1


@pytest.mark.parametrize("name", sorted(CASES))
def test_finals_emitted_once_per_frozen_part(fake_state, name):
    d = Driver(name, fake_state)
    b1 = _batch(name, 12)
    assert not _finals(d(b1))
    # rows far past the first ones freeze the first batch's rows, in a
    # batch rather than a timeout: version is just the rows absorbed
    late = T0 + 10 * HOUR
    b2 = _batch(name, 3, t0=late)
    out = d(b2, wm_us=late)
    assert d.version == len(b1) + len(b2)
    assert len(_finals(out)) == 1
    if name == "funnel":  # a finalized user is a tombstone: no wake left
        assert d.state.timeout_ms is None
    b3 = _batch(name, 3, t0=late + 100_000_000)
    out = d(b3)
    assert not _finals(out)
    assert d.version == len(b1) + len(b2) + len(b3)


def test_islands_run_without_timeout():
    assert CASES["islands"][0].wake is None
    assert TIMED == ["transitions", "funnel", "sessions", "asof"]
