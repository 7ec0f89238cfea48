"""The versioned-fold kernel: the one group function and the one
``applyInPandasWithState`` call of every superseding stream operator.

Twenty-two operators share it — the 15 bucket-series operators and the
Mann-Whitney, KMV and dwell folds of ``sequence_state.py``, plus the
quantile, priority-sample, Space-Saving and discovery folds of their own
modules.  The keep (non-evicting) twins of transitions, funnel, sessions,
as-of join and islands run on it too, with the fold and live emitter
their evict twins give the watermark-freeze kernel
(``freeze_fold.py``).  Each contributes only its input ``select``, a pure ``fold`` and
an ``emit`` frame builder; the kernel alone owns the ``GroupState``
protocol (Structured Streaming's stateful operator as one function over
key, rows and state).

Contract:

* **State row** ``(*acc, version)``.  ``acc`` is the operator's
  accumulator as a tuple of its state-schema fields, in field order;
  ``version`` is the last field.
* **Fold.** ``fold(acc | None, frame) -> acc`` runs once per non-empty
  input frame (``None`` before the key's first row).  The fold should be
  commutative over rows — integer sums, min/max, sorted unions, k-minima
  — so any micro-batch split or arrival order rebuilds the identical
  ``acc``; the two sketches whose summary depends on batch boundaries
  (KLL compaction, Space-Saving eviction) say so in their modules.
* **Version** = rows absorbed so far, summed over every non-empty frame
  the key has ever received.  It grows with every batch that touches the
  key, so it totally orders the key's emissions.
* **Emit.** ``emit(key, acc, version) -> DataFrame | None`` runs once per
  non-empty batch, after the state update, with ``key`` the grouping
  value as Spark passes it (the tuple of values for a multi-column
  key).  It re-derives the key's WHOLE current answer from ``acc`` (a
  late row may revise any earlier output row) and stamps every row with
  ``version``, or returns None for no row yet.
* **Empty batch.** A batch with no rows for the key emits nothing and
  neither creates nor touches state.
* **Drain.** Readers keep, per key, the rows of the maximum version: each
  version supersedes the whole answer before it.
* **Retraction sentinel.** An operator whose answer can shrink to zero
  rows must still emit one row carrying the new version with NULL payload
  columns — an empty emission could never supersede the older rows — and
  its drain drops that sentinel.  An operator whose answer only grows, or
  is one row once it exists, needs none.

Resume guarantee: the kernel stores exactly the ``(*acc, version)`` row
the per-operator group functions it replaced stored, under the same state
schemas (field names, types and order), grouping keys and output schemas,
in append mode with no timeout — so checkpoints written by those
functions still resume.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: ``fold(acc | None, frame) -> acc``, ``acc`` the state row minus version
Fold = Callable[["tuple | None", pd.DataFrame], tuple]
#: ``emit(key, acc, version)`` -> the key's whole answer, or None
Emit = Callable[[object, tuple, int], "pd.DataFrame | None"]


def versioned_fold_fn(fold: Fold, emit: Emit):
    """The ``applyInPandasWithState`` group function of the contract in
    the module docstring."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            *acc, version = state.get
            acc = tuple(acc)
        else:
            acc, version = None, 0
        absorbed = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            absorbed += len(pdf)
            acc = fold(acc, pdf)
        if not absorbed:
            return
        version += absorbed
        state.update((*acc, version))
        out = emit(key[0] if len(key) == 1 else key, acc, version)
        if out is not None:
            yield out

    return fn


def versioned_fold_stream(
    keyed: DataFrame,
    key: str | Sequence[str],
    fold: Fold,
    emit: Emit,
    state_schema: T.StructType,
    output_schema: T.StructType,
) -> DataFrame:
    """Group the projected stream ``keyed`` by ``key`` and run the
    versioned fold over it: the package's one superseding
    ``applyInPandasWithState`` call (append mode, no timeout)."""
    return keyed.groupBy(key).applyInPandasWithState(
        versioned_fold_fn(fold, emit),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
