"""In-row graph twins (r17 optimization): bit-exact equivalence with the
relational implementations.

`pagerank_int_inrow` / `label_propagation_inrow` exist because the bounded
(≤200-node) audit queries paid ~0.2 s of driver fixed cost per relational
round; the twins run the whole iteration as array expressions over one
collected edge row.  Their claim is EXACT equivalence — same truncating
int64 chain, same most-frequent-neighbor argmax with smallest-label ties —
pinned here against the relational twins on a deterministic random graph
and on tie-heavy edge cases the randomized sweep might miss.
"""

from __future__ import annotations

import random

from project_obsidian_core_spark.datapipe.similarity import (
    label_propagation,
    label_propagation_inrow,
    pagerank_int,
    pagerank_int_inrow,
)


def _graph_df(spark, n, seed):
    rng = random.Random(seed)
    edges = set()
    for i in range(n):
        for _ in range(rng.randrange(1, 5)):
            j = rng.randrange(n)
            if i != j:
                edges.add((min(i, j), max(i, j)))
    return spark.createDataFrame(sorted(edges), "a long, b long")


def _graphs(spark):
    # the empty edge set: a global aggregate over no edges still yields
    # one row, which the in-row twins must not score
    return [
        _graph_df(spark, 60, 20260818),
        spark.createDataFrame([], "a long, b long"),
    ]


def test_pagerank_inrow_matches_relational(spark):
    for df in _graphs(spark):
        for iters in (1, 2, 3):
            a = sorted(
                (r.node, r.score) for r in pagerank_int(df, iters).collect()
            )
            b = sorted(
                (r.node, r.score)
                for r in pagerank_int_inrow(df, iters).collect()
            )
            assert a == b, f"iters={iters}"


def test_lpa_inrow_matches_relational(spark):
    for df in _graphs(spark):
        for rounds in (1, 2, 3):
            a = sorted(
                (r.node, r.lbl) for r in label_propagation(df, rounds).collect()
            )
            b = sorted(
                (r.node, r.lbl)
                for r in label_propagation_inrow(df, rounds).collect()
            )
            assert a == b, f"rounds={rounds}"


def test_lpa_inrow_tie_breaks_to_smallest_label(spark):
    # node 0 has neighbors 1 and 2 (one edge each): counts tie at 1, the
    # window rule picks lbl ASC -> node 0 adopts label 1.  A triangle
    # 3-4-5 ties three ways -> each adopts its smallest neighbor.
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (3, 4), (3, 5), (4, 5)], "a long, b long"
    )
    a = sorted((r.node, r.lbl) for r in label_propagation(df, 1).collect())
    b = sorted((r.node, r.lbl) for r in label_propagation_inrow(df, 1).collect())
    assert a == b
    got = dict(b)
    assert got[0] == 1 and got[4] == 3 and got[5] == 3


def test_pagerank_inrow_single_edge(spark):
    df = spark.createDataFrame([(7, 9)], "a long, b long")
    a = sorted((r.node, r.score) for r in pagerank_int(df, 2).collect())
    b = sorted((r.node, r.score) for r in pagerank_int_inrow(df, 2).collect())
    assert a == b and len(b) == 2
