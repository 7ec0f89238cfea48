"""The watermark-freeze kernel: the one group function and the one
``applyInPandasWithState`` call of every evicting stream operator.

Five operators share it — the evict modes of transitions, the anchored
funnel, gap sessions and the as-of join (all in ``sequence_state.py``)
and the evict mode of islands (``interval_state.py``).  Every one of
them emits ``is_final``.  It is the second and last stream kernel, built
on the contract of ``versioned_fold.py`` plus the three steps Structured
Streaming adds for unbounded input: an event-time watermark, a per-group
event-time timeout, and one user function over (key, rows, state).
Their keep twins (no eviction) run on the versioned fold itself, with
the same ``fold`` and ``live`` pieces.

Operator pieces (:class:`FreezeOp`), all pure:

* ``fold(acc | None, frame) -> acc`` — the keep twin's fold.  ``init``
  replaces ``None`` for a key with no state when the evict ``acc``
  carries extra fields (the funnel's ``done`` tombstone, the sessions'
  ``closed_n``); the fold carries such trailing fields through unchanged.
* ``freeze(acc, wm_us) -> (frozen | None, rest)`` — the part of ``acc``
  that no row at or above the watermark can change any more, and the
  ``acc`` that stays in state.  ``None`` means nothing froze.
* ``wake(rest) -> µs | None`` — the event time at which the next part
  can freeze, or None when nothing can freeze without new rows.  An
  operator without a wake rule runs with no timeout.
* ``live(key, acc, version, final=None) -> DataFrame | None`` — the keep
  twin's emitter.  It renders the live rows from ``rest`` and the final
  rows from ``frozen``.  The kernel passes ``final`` (True or False), and
  the emitter adds the ``is_final`` column with :func:`final_col`
  (building it into the frame costs a few µs; inserting it afterwards
  costs ~170 µs per frame, once per key per micro-batch); the keep twins
  call the same emitter with ``final=None`` and get no column.
* ``marker(key, acc, version, final)`` (optional) — the rows a timeout
  flush emits when ``live`` has none (transitions' ``n=0`` row).

Kernel duties, in the order they run:

* **State row** ``acc`` with ``version`` inserted at the position of the
  state schema's ``version`` field (not always the last one:
  ``FUNNEL_EVICT_STATE_SCHEMA`` and ``SESSION_EVICT_STATE_SCHEMA`` keep
  it before ``done``/``closed_n``).
* **Batch.** A batch with no rows for the key emits nothing and neither
  creates nor touches state.  Otherwise ``fold`` runs per non-empty
  frame and ``version`` grows by the rows absorbed.
* **Freeze** at ``getCurrentWatermarkMs()``, then re-arm the timeout at
  ``max(wake_us // 1000 + 1, wm_ms + 1)``: the first millisecond past
  the wake instant, and never at or below the watermark (Spark refuses
  that).
* **Timeout.** A wake where nothing froze is spurious: state is written
  (re-armed), ``version`` stays and nothing is emitted.  A wake where
  something froze is a flush: ``version`` grows by 1, so the flush's
  frames supersede every earlier live frame of the key.
* **Emit**: the final rows, then the live rows (or the marker after a
  flush), each stamped with ``version`` and ``is_final``.

Drains (finals are emitted exactly once per frozen part):

* transitions — additive: every final row plus the max-version live rows;
* sessions and as-of — finals ∪ max-version live, finals taking
  precedence by session / click;
* funnel — a user's final row supersedes all of that user's live rows;
* islands — finals ∪ the max-version live rows.

Islands has no wake rule and so keeps ``NoTimeout``.  Its evict
checkpoints were written under ``NoTimeout``, and on PySpark 4.1.2 such a
checkpoint fails to resume under ``EventTimeTimeout``
(``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``).  The cost: the closed
islands of a key that receives no more rows are never emitted as final
and stay in its state.  The drained set is still exact (they remain in
the key's max-version live rows), but that key's state is not bounded.

Resume guarantee: every operator keeps the state schema, grouping key,
output schema and ``timeoutConf`` of the group function it replaced, so
checkpoints written by those functions still resume.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from project_obsidian_core_spark.streaming.versioned_fold import Emit, Fold

#: ``freeze(acc, wm_us) -> (frozen | None, rest)``
Freeze = Callable[[tuple, int], "tuple[tuple | None, tuple]"]
#: ``wake(rest) -> µs | None``
Wake = Callable[[tuple], "int | None"]


def final_col(n: int, final: bool | None) -> dict:
    """The ``is_final`` column of an ``n``-row frame, or none for
    ``final=None`` (a keep twin)."""
    return {} if final is None else {"is_final": np.full(n, final, dtype=bool)}


class FreezeOp(NamedTuple):
    """An evicting operator's pure pieces (see the module docstring)."""

    fold: Fold
    freeze: Freeze
    live: Emit
    wake: Wake | None = None
    init: tuple | None = None
    marker: Emit | None = None


def freeze_fold_fn(op: FreezeOp, state_schema: T.StructType):
    """The ``applyInPandasWithState`` group function of the contract in
    the module docstring."""
    vpos = state_schema.fieldNames().index("version")

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        timed_out = state.hasTimedOut
        if state.exists:
            row = state.get
            acc, version = (*row[:vpos], *row[vpos + 1 :]), row[vpos]
        else:
            acc, version = op.init, 0
        if not timed_out:
            absorbed = 0
            for pdf in pdfs:
                if len(pdf):
                    absorbed += len(pdf)
                    acc = op.fold(acc, pdf)
            if not absorbed:
                return
            version += absorbed
        wm_ms = state.getCurrentWatermarkMs()
        frozen, acc = op.freeze(acc, wm_ms * 1000)
        if op.wake is not None and (wake_us := op.wake(acc)) is not None:
            state.setTimeoutTimestamp(max(wake_us // 1000 + 1, wm_ms + 1))
        spurious = timed_out and frozen is None
        if timed_out and not spurious:
            version += 1  # a flush
        state.update((*acc[:vpos], version, *acc[vpos:]))
        if spurious:  # re-armed above; nothing else changes
            return
        k = key[0] if len(key) == 1 else key
        if frozen is not None:
            out = op.live(k, frozen, version, True)
            if out is not None:
                yield out
        out = op.live(k, acc, version, False)
        if out is None and timed_out and op.marker is not None:
            out = op.marker(k, acc, version, False)
        if out is not None:
            yield out

    return fn


def freeze_fold_stream(
    keyed: DataFrame,
    key: str | Sequence[str],
    op: FreezeOp,
    state_schema: T.StructType,
    output_schema: T.StructType,
) -> DataFrame:
    """Group the projected, watermarked stream ``keyed`` by ``key`` and run
    the freeze fold over it: the package's one evicting
    ``applyInPandasWithState`` call (append mode; an event-time timeout
    exactly when ``op`` has a wake rule)."""
    return keyed.groupBy(key).applyInPandasWithState(
        freeze_fold_fn(op, state_schema),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if op.wake is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
