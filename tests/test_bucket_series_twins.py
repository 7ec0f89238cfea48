"""Oracle coverage for the versioned-fold stream twins that no other test
replays end to end, and for the empty-events corpus.

Each query runs from the registry on the sf0.001 fixture and must equal
its DuckDB oracle bit-exactly, compared with the normalizer of
``scripts/oracle_check.py``.  A twin that drains to zero rows would match
an equally empty oracle, so every result must also be non-empty.

The empty-events corpus is sf0.001 with ``events.parquet`` cut to zero
rows: every query over events must then match its oracle rather than
fail inside the engine.  That oracle is empty except for the funnel's
three zero-count stages and the state budget's four ``(family, 0, NULL,
NULL)`` rows.  The absorbing-events corpus keeps each
user's first three events as view → click → purchase; the stationary
Markov fold must then drain to zero rows like its oracle.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from scripts.oracle_check import TABLES, approx_equal, sorted_rows

UNTESTED_TWINS = [
    "stream_ewma",
    "stream_spc_rules",
    "stream_seasonal_decompose",
    "stream_autoperiod",
    "stream_winsorize",
    "stream_range_rate",
    "stream_forecast_backtest",
    "stream_supplier_hhi",
    "stream_dwell_time",
    "stream_kmv_distinct",
    "stream_topk_exact",
    "stream_quantiles_exact",
    "stream_discovery_timeline",
    "stream_priority_sample",
    # four replays (CMS, EWMA, KMV, ordered evicting transitions), each
    # read back from its checkpoint: about 30 s at sf0.001 in a warm
    # session, 45 s as its first query
    "stream_state_budget",
]

STAGES = ("view", "click", "purchase")

#: the in-row Markov fold plus the stream twins that replay events, the
#: last five through the ordered-chunk replay
EMPTY_EVENTS_QUERIES = [
    "events_markov_stationary",
    "stream_mannwhitney",
    "stream_kmv_distinct",
    "stream_dwell_time",
    "stream_topk_exact",
    "stream_quantiles_exact",
    "stream_discovery_timeline",
    "stream_ewma",
    "stream_sessionize_evict",
    "stream_funnel_evict",
    "stream_asof_join_evict",
    "stream_attribution",
    "stream_state_budget",
]

#: rows of the queries whose oracle is not empty on the empty corpus
ROWS_ON_EMPTY = {"stream_funnel_evict": 3, "stream_state_budget": 4}


def _duck(sf):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = _duck(sf_dir)
    yield con
    con.close()


def _events_corpus(sf_dir, tmp_path_factory, name, rewrite):
    """(dir, duckdb) for the sf0.001 corpus with ``rewrite`` applied to
    the events table."""
    d = tmp_path_factory.mktemp(name)
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if t == "events":
            pq.write_table(rewrite(pq.read_table(src)), d / f"{t}.parquet")
        else:
            os.symlink(src, d / f"{t}.parquet")
    con = _duck(str(d))
    yield str(d), con
    con.close()


@pytest.fixture(scope="module")
def empty_events(sf_dir, tmp_path_factory):
    """The sf0.001 corpus with zero events."""
    yield from _events_corpus(
        sf_dir, tmp_path_factory, "empty_events", lambda t: t.slice(0, 0)
    )


def _absorbing_chain(events: pa.Table) -> pa.Table:
    """Each user's first three events in (ts, event_id) order, typed
    view, click, purchase: ``purchase`` has no outgoing transition, so
    the chain's mass drains into it and no type keeps support through
    the last power-iteration rounds."""
    df = events.to_pandas().sort_values(["user_id", "ts", "event_id"])
    rank = df.groupby("user_id").cumcount()
    df = df[rank < 3].assign(
        event_type=rank[rank < 3].map(dict(enumerate(STAGES)))
    )
    return pa.Table.from_pandas(df, schema=events.schema, preserve_index=False)


@pytest.fixture(scope="module")
def absorbing_events(sf_dir, tmp_path_factory):
    """The sf0.001 corpus whose events form an absorbing Markov chain."""
    yield from _events_corpus(
        sf_dir, tmp_path_factory, "absorbing_events", _absorbing_chain
    )


@pytest.mark.parametrize(
    "name",
    [
        *UNTESTED_TWINS,
        *(f"empty_events:{q}" for q in EMPTY_EVENTS_QUERIES),
        "absorbing_events:events_markov_stationary",
    ],
)
def test_twin_matches_its_oracle(spark, sf_dir, duck, request, name):
    from project_obsidian_core_spark.plans.registry import ORACLES, QUERIES

    corpus, _, name = name.rpartition(":")
    sf, con = request.getfixturevalue(corpus) if corpus else (sf_dir, duck)
    sdf = QUERIES[name](spark, sf)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    rel = con.sql(ORACLES[name])
    d_cols, d_rows = rel.columns, rel.fetchall()

    if corpus:
        # neither corpus leaves a type with support in the last rounds
        assert len(s_rows) == ROWS_ON_EMPTY.get(name, 0), (name, corpus)
    else:
        assert s_rows, f"{name} drained no rows"
    assert sorted(s_cols) == sorted(d_cols)
    a, b = sorted_rows(s_cols, s_rows), sorted_rows(d_cols, d_rows)
    assert a == b, (
        "float jitter only" if approx_equal(a, b) else "values differ",
        len(a),
        len(b),
    )
