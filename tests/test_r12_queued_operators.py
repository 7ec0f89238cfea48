"""Units for the ROUND-12-QUEUED operators (implemented + oracle-twinned
in round 11; registration deferred — the r11 gate window was committed to
5 promotions + 45 stale refreshes, see Block R11 in plans/registry.py and
scripts/check_queued.py, which gate-checks these against their DuckDB
oracles outside the registry)."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- A73: customer RFM --
def test_customer_rfm_matches_python(spark):
    """Independent recompute of the value-quartile thresholds (ceil(k·n/4)
    order statistics) and every customer's scores."""
    from project_obsidian_core_spark.plans.behavior_queries import customer_rfm
    from project_obsidian_core_spark.plans.common import load

    rows = load(spark, SF, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.expr("cast(round(o_totalprice * 100, 0) as bigint)").alias("pc"),
    ).collect()
    anchor = max(r["od"] for r in rows)
    pc: dict[int, list] = {}
    for r in rows:
        cur = pc.setdefault(r["o_custkey"], [None, 0, 0])
        cur[0] = r["od"] if cur[0] is None or r["od"] > cur[0] else cur[0]
        cur[1] += 1
        cur[2] += r["pc"]
    feats = {
        c: ((anchor - last).days, f, m) for c, (last, f, m) in pc.items()
    }

    def thresholds(vals):
        n = len(vals)
        sv = sorted(vals)
        return [sv[(k * n + 3) // 4 - 1] for k in (1, 2, 3)]

    tr = thresholds([v[0] for v in feats.values()])
    tf = thresholds([v[1] for v in feats.values()])
    tm = thresholds([v[2] for v in feats.values()])
    score = lambda v, t: 1 + sum(v > x for x in t)  # noqa: E731

    got = {r["c_custkey"]: r for r in customer_rfm(spark, SF).collect()}
    assert set(got) == set(feats)
    for c, (rd, fq, mc) in feats.items():
        row = got[c]
        assert (row["recency_days"], row["frequency"], row["monetary_cents"]) == (
            rd,
            fq,
            mc,
        )
        r_q, f_q, m_q = score(rd, tr), score(fq, tf), score(mc, tm)
        assert (row["r_q"], row["f_q"], row["m_q"]) == (r_q, f_q, m_q)
        assert row["rfm_code"] == (5 - r_q) * 100 + f_q * 10 + m_q
    # quartile populations: value ties can only OVERFILL a bucket, never
    # create an empty one on this data (sanity of the boundary arithmetic)
    for col in ("r_q", "f_q", "m_q"):
        seen = Counter(r[col] for r in got.values())
        assert set(seen) <= {1, 2, 3, 4} and seen[1] > 0 and seen[4] > 0


# -------------------------------------------- R28: part supplier census --
def test_part_supplier_counts_matches_python(spark):
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.relational_queries import (
        part_supplier_counts,
    )

    deny = {
        r["s_suppkey"]
        for r in load(spark, SF, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .collect()
    }
    part = {
        r["p_partkey"]: (r["p_brand"], r["p_type"], r["p_size"])
        for r in load(spark, SF, "part").collect()
        if r["p_brand"] != "Brand#13"
        and not r["p_type"].startswith("MEDIUM")
        and r["p_size"] in (1, 4, 9, 14, 19, 23, 36, 45)
    }
    pairs = {
        (r["l_partkey"], r["l_suppkey"])
        for r in load(spark, SF, "lineitem")
        .select("l_partkey", "l_suppkey")
        .collect()
        if r["l_suppkey"] not in deny
    }
    ref: dict[tuple, set] = {}
    for pk, sk in pairs:
        if pk in part:
            ref.setdefault(part[pk], set()).add(sk)
    got = {
        (r["p_brand"], r["p_type"], r["p_size"]): r["supplier_cnt"]
        for r in part_supplier_counts(spark, SF).collect()
    }
    assert got == {k: len(v) for k, v in ref.items()}
    assert len(got) > 0


# ------------------------------------------ R29: Q13 order histogram --
def test_customer_order_histogram_includes_zero_bucket(spark):
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.relational_queries import (
        customer_order_histogram,
    )

    custs = {r["c_custkey"] for r in load(spark, SF, "customer").collect()}
    per = Counter()
    for r in load(spark, SF, "orders").collect():
        if r["o_orderpriority"] != "1-URGENT" and r["o_custkey"] in custs:
            per[r["o_custkey"]] += 1
    hist = Counter(per.values())
    hist[0] = len(custs) - len(per)
    got = {
        r["c_count"]: r["custdist"]
        for r in customer_order_histogram(spark, SF).collect()
    }
    assert got == {k: v for k, v in hist.items() if v > 0}
    # the Q13 signature: zero-order customers are IN the histogram when
    # any exist (the filtered-join-predicate decorrelation)
    if hist[0] > 0:
        assert got.get(0) == hist[0]
    assert sum(got.values()) == len(custs)


# ------------------------------------- A74: hour-of-day seasonality --
def test_metric_seasonal_hod_matches_python(spark):
    from project_obsidian_core_spark.plans.metrics_queries import (
        metric_seasonal_hod,
        synthesize_metrics,
    )

    rows = synthesize_metrics(spark, SF).select(
        "metric_name", F.hour("time").alias("hod"), "metric_value"
    ).collect()
    per: dict[tuple, list] = {}
    tot: dict[str, list] = {}
    for r in rows:
        a = per.setdefault((r["metric_name"], r["hod"]), [0, 0])
        a[0] += 1
        a[1] += r["metric_value"]
        b = tot.setdefault(r["metric_name"], [0, 0])
        b[0] += 1
        b[1] += r["metric_value"]
    got = {
        (r["metric_name"], r["hod"]): r
        for r in metric_seasonal_hod(spark, SF).collect()
    }
    assert set(got) == set(per)
    for k, (n, s) in per.items():
        row = got[k]
        nt, st = tot[k[0]]
        assert (row["n"], row["sum_cents"]) == (n, s)
        assert row["mean_cents"] == s / n
        assert row["seasonal_index"] == (s * nt) / (n * st)
    # seasonal indexes are a weighted mean-1 decomposition per series:
    # sum over slots of n_h·index_h == n_tot exactly in the int algebra
    for m, (nt, st) in tot.items():
        num = sum(
            per[(m2, h)][1] * nt
            for (m2, h) in per
            if m2 == m
        )
        assert num == st * nt  # Σ sum_h·n_tot == sum_tot·n_tot


# ------------------------------------------ X24: gram novelty --------
def test_text_gram_novelty_matches_python(spark):
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.curation_queries import (
        text_gram_novelty,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").collect()
    }
    grams: dict[int, set] = {}
    for d, text in docs.items():
        toks = text.split(" ")
        grams[d] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    first: dict[str, int] = {}
    for d in sorted(grams):
        for g in grams[d]:
            if g not in first or d < first[g]:
                first[g] = min(first.get(g, d), d)
    got = {r["doc_id"]: r for r in text_gram_novelty(spark, SF).collect()}
    assert set(got) == set(docs)
    for d, gs in grams.items():
        row = got[d]
        n_novel = sum(1 for g in gs if first[g] == d)
        assert row["n_grams"] == len(gs)
        assert row["n_novel"] == n_novel
        if gs:
            assert row["novelty"] == n_novel / len(gs)
        else:
            assert row["novelty"] is None
    # the first document in id order is all-novel by definition
    d0 = min(d for d, gs in grams.items() if gs)
    assert got[d0]["novelty"] == 1.0


# -------------------------------- T26: streaming Bollinger breakouts --
def test_bollinger_from_series_matches_bruteforce():
    """The rolling S/Q scan must equal the literal window recomputation,
    for several shapes including all-ties and a planted blowout."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        bollinger_from_series,
    )

    cases = [
        ([100] * 30, 5, 2),
        (list(range(40)), 7, 3),
        ([10, 11, 9, 10, 11, 9, 10, 500, 10, 11, 9, 10], 4, 3),
        ([5], 3, 2),
        ([], 3, 2),
    ]
    for ys, w, k in cases:
        buckets = [1000 + i for i in range(len(ys))]
        ref = []
        for i in range(len(ys)):
            win = ys[max(0, i - w) : i]
            if len(win) != w:
                continue
            n, s, q = len(win), sum(win), sum(v * v for v in win)
            dev = ys[i] * n - s
            var = n * q - s * s
            if dev * dev > k * k * var:
                ref.append((buckets[i], ys[i], dev, var, dev > 0))
        assert bollinger_from_series(buckets, ys, w, k) == ref, (ys, w, k)


def test_bollinger_fn_retracts_via_sentinel(fake_state):
    """A late EARLY bucket that re-bases the window must retract the
    earlier breakout: the later version emits the NULL-hour sentinel so
    the max-version drain supersedes the stale breakout rows."""
    import pandas as pd

    from project_obsidian_core_spark.streaming.sequence_state import (
        bucket_series_fn,
        emit_bollinger,
    )

    fn = bucket_series_fn(emit_bollinger)
    state = fake_state()
    # batch 1: 24 flat hours then one blowout -> breakout at hour 124
    b1 = pd.DataFrame(
        {
            "bucket": list(range(100, 125)),
            "v": [10] * 24 + [10_000],
        }
    )
    out1 = list(fn(("m",), iter([b1]), state))
    assert len(out1) == 1 and list(out1[0]["hour"]) == [124]
    # batch 2: late deliveries INTO the blowout's own trailing window
    # (every odd bucket in 100..123 gains +9990, folding to 10_000) ->
    # window variance explodes, dev² no longer clears k²·var, breakout gone
    b2 = pd.DataFrame(
        {
            "bucket": list(range(101, 124, 2)),
            "v": [9_990] * 12,
        }
    )
    out2 = list(fn(("m",), iter([b2]), state))
    assert len(out2) == 1
    assert out2[0]["hour"].isna().all()  # the retraction sentinel
    assert int(out2[0]["version"].iloc[0]) > int(out1[0]["version"].iloc[0])


def test_stream_bollinger_drained_equals_batch(spark):
    """Drained max-version, non-sentinel rows must equal the batch A72
    operator exactly — the streaming↔batch equivalence the r12 driver
    gate will re-prove against the DuckDB oracle."""
    from project_obsidian_core_spark.plans.metrics_queries import (
        metric_bollinger,
    )
    from project_obsidian_core_spark.plans.streaming_queries import (
        stream_bollinger,
    )

    got = [tuple(r) for r in stream_bollinger(spark, SF).collect()]
    ref = [tuple(r) for r in metric_bollinger(spark, SF).collect()]
    assert got == ref


# ------------------------------------------- A75: maximum drawdown --------
def test_metric_drawdown_matches_python(spark):
    from project_obsidian_core_spark.plans.metrics_queries import (
        metric_drawdown,
        synthesize_metrics,
    )

    rows = (
        synthesize_metrics(spark, SF)
        .select(
            "metric_name",
            F.expr("unix_micros(time) div 3600000000").alias("x"),
            F.col("metric_value").alias("v"),
        )
        .groupBy("metric_name", "x")
        .agg(F.sum("v").alias("y"))
        .collect()
    )
    grids: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        grids.setdefault(r["metric_name"], []).append((r["x"], r["y"]))
    got = {r["metric_name"]: r for r in metric_drawdown(spark, SF).collect()}
    assert set(got) == set(grids)
    for m, g in grids.items():
        g.sort()
        peak = None
        best = None  # (-dd, x, peak, y)
        for x, y in g:
            peak = y if peak is None or y > peak else peak
            cand = (-(peak - y), x, peak, y)
            if best is None or cand < best:
                best = cand
        row = got[m]
        assert row["n_hours"] == len(g)
        assert row["drawdown_cents"] == -best[0]
        assert row["trough_hour"] == best[1]
        assert row["peak_cents"] == best[2]
        assert row["trough_cents"] == best[3]
        # invariants: drawdown = peak - trough >= 0
        assert row["peak_cents"] - row["trough_cents"] == row["drawdown_cents"]
        assert row["drawdown_cents"] >= 0


# ------------------------------------- R30: value concentration -----------
def test_part_value_concentration_matches_python(spark):
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.relational_queries import (
        part_value_concentration,
    )

    per: dict[int, int] = {}
    for r in load(spark, SF, "lineitem").select(
        "l_partkey", F.expr("cast(round(l_extendedprice*100,0) as bigint)").alias("pc")
    ).collect():
        per[r["l_partkey"]] = per.get(r["l_partkey"], 0) + r["pc"]
    total, n = sum(per.values()), len(per)
    ref = {
        k: v * 1_000_000 // total
        for k, v in per.items()
        if v * n * 2 > total * 3
    }
    got = {
        r["p_partkey"]: r for r in part_value_concentration(spark, SF).collect()
    }
    assert {k: r["share_ppm"] for k, r in got.items()} == ref
    for k, r in got.items():
        assert r["value_cents"] == per[k]


# --------------------------------------- X25: lang-ID confusion -----------
def test_lang_id_confusion_matches_python(spark):
    from project_obsidian_core_spark.datapipe.text import LANG_PROFILES
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        lang_id_confusion,
    )

    names = list(LANG_PROFILES)
    cells: Counter = Counter()
    for r in load(spark, SF, "documents").select("lang", "text").collect():
        toks = r["text"].split(" ")
        n = len(toks)
        scores = [
            (sum(1 for t in toks if t in LANG_PROFILES[nm]) / n if n else 0.0)
            for nm in names
        ]
        pred = names[0]
        for i, nm in enumerate(names):
            ok = all(scores[i] > scores[j] for j in range(i)) and all(
                scores[i] >= scores[j] for j in range(i + 1, len(names))
            )
            if ok:
                pred = nm
                break
        cells[(r["lang"], pred)] += 1
    rows_n = Counter()
    for (lang, _), c in cells.items():
        rows_n[lang] += c
    got = {
        (r["lang"], r["lang_pred"]): r
        for r in lang_id_confusion(spark, SF).collect()
    }
    assert set(got) == set(cells)
    for k, c in cells.items():
        row = got[k]
        assert row["n"] == c and row["row_n"] == rows_n[k[0]]
        assert row["share_ppm"] == c * 1_000_000 // rows_n[k[0]]
    # every label row's shares sum to ~1e6 (floor rounding loses < |cells|)
    for lang in rows_n:
        s = sum(r["share_ppm"] for k, r in got.items() if k[0] == lang)
        assert 1_000_000 - len(names) <= s <= 1_000_000


# ------------------------------- D24: sorted-neighborhood candidates ------
def test_sorted_neighborhood_matches_python(spark):
    from project_obsidian_core_spark.datapipe.dedup import (
        NGRAM_W,
        SN_BLOCK_CHARS,
        SN_KEY_PREFIX,
        SN_WINDOW,
    )
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        dedup_sorted_neighborhood,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").collect()
    }
    keyed = []
    grams = {}
    for d, text in docs.items():
        key = " ".join(sorted(set(text.split(" "))))[:SN_KEY_PREFIX]
        keyed.append((key[:SN_BLOCK_CHARS], key, d))
        grams[d] = {
            text[i : i + NGRAM_W] for i in range(max(len(text) - NGRAM_W + 1, 1))
        }
    ref = {}
    from itertools import groupby

    keyed.sort()
    for _, grp in groupby(keyed, key=lambda t: t[0]):
        grp = list(grp)
        for i, (_, _, a) in enumerate(grp):
            for dist in range(1, SN_WINDOW + 1):
                if i + dist >= len(grp):
                    break
                b = grp[i + dist][2]
                inter = len(grams[a] & grams[b])
                union = len(grams[a] | grams[b])
                ref[(a, b)] = (dist, inter, union, inter * 1_000_000 // union)
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["rank_dist"],
            r["n_inter"],
            r["n_union"],
            r["jaccard_ppm"],
        )
        for r in dedup_sorted_neighborhood(spark, SF).collect()
    }
    assert got == ref
    # the hard-linear candidate bound the operator exists for
    assert len(got) <= len(docs) * SN_WINDOW


# ------------------------------- T27: streaming max drawdown --------------
def test_drawdown_from_series_matches_bruteforce():
    from project_obsidian_core_spark.streaming.sequence_state import (
        drawdown_from_series,
    )

    cases = [
        [10, 20, 5, 30, 1, 50],
        [5, 5, 5],
        [9, 8, 7, 6],
        [1, 2, 3, 4],
        [7],
    ]
    for ys in cases:
        buckets = [100 + i for i in range(len(ys))]
        peak = None
        best = None
        for x, y in zip(buckets, ys):
            peak = y if peak is None or y > peak else peak
            cand = (-(peak - y), x, peak, y)
            if best is None or cand < best:
                best = cand
        assert drawdown_from_series(buckets, ys) == (
            len(ys),
            best[1],
            best[2],
            best[3],
            -best[0],
        )
    assert drawdown_from_series([], []) is None


def test_drawdown_fold_is_arrival_order_free():
    """A late EARLY bucket can raise every later peak: the re-walked scan
    must converge to the same answer whatever the delivery order — the
    property no incremental (peak, best) scalar pair survives."""
    import itertools

    from project_obsidian_core_spark.streaming.sequence_state import (
        drawdown_from_series,
        fold_bucket_sums,
    )

    rows = [(100, 10), (101, 50), (102, 5), (103, 40), (104, 2)]
    want = None
    for perm in itertools.permutations(rows):
        buckets, sums = [], []
        for chunk in (perm[:2], perm[2:4], perm[4:]):
            buckets, sums = fold_bucket_sums(buckets, sums, chunk)
        got = drawdown_from_series(buckets, sums)
        want = got if want is None else want
        assert got == want


def test_stream_drawdown_drained_equals_batch(spark):
    from project_obsidian_core_spark.plans.metrics_queries import (
        metric_drawdown,
    )
    from project_obsidian_core_spark.plans.streaming_queries import (
        stream_drawdown,
    )

    got = [tuple(r) for r in stream_drawdown(spark, SF).collect()]
    ref = [tuple(r) for r in metric_drawdown(spark, SF).collect()]
    assert got == ref


# ----------------------------------- G10: link prediction ----------------
def test_knn_link_prediction_matches_python(spark):
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        _GRAPH_K,
        _GRAPH_VECS,
        knn_link_prediction,
    )

    emb = {
        r["vec_id"]: r["embedding"]
        for r in load(spark, SF, "embeddings")
        .filter(F.col("vec_id") < _GRAPH_VECS)
        .collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    edges = set()
    for q, v in emb.items():
        scored = sorted(((-cos(v, w), c) for c, w in emb.items() if c != q))[
            :_GRAPH_K
        ]
        for _, c in scored:
            edges.add((min(q, c), max(q, c)))
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    ref = []
    nodes = sorted(adj)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1 :]:
            if (x, y) in edges:
                continue
            common = adj[x] & adj[y]
            if not common:
                continue
            ra = sum(1_000_000 // len(adj[m]) for m in common)
            ref.append((-len(common), -ra, x, y, len(common), ra))
    ref.sort()
    want = [(x, y, n, ra) for _, _, x, y, n, ra in ref[:20]]
    got = [
        (r["vec_a"], r["vec_b"], r["n_common"], r["ra_ppm"])
        for r in knn_link_prediction(spark, SF).collect()
    ]
    assert got == want and len(got) > 0
    # every reported pair is a genuine non-edge
    for x, y, _, _ in got:
        assert (x, y) not in edges


# ------------------------------ D25: edit-distance verify -----------------
def test_dedup_edit_distance_matches_python(spark):
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        _EDIT_MAX,
        _EDIT_PREFIX,
        dedup_edit_distance,
    )
    from project_obsidian_core_spark.datapipe.dedup import (
        SN_BLOCK_CHARS,
        SN_KEY_PREFIX,
        SN_WINDOW,
    )

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    docs = {
        r["doc_id"]: r["text"] for r in load(spark, SF, "documents").collect()
    }
    keyed = []
    for d, t in docs.items():
        key = " ".join(sorted(set(t.split(" "))))[:SN_KEY_PREFIX]
        keyed.append((key[:SN_BLOCK_CHARS], key, d))
    keyed.sort()
    from itertools import groupby

    ref = {}
    for _, grp in groupby(keyed, key=lambda t: t[0]):
        grp = list(grp)
        for i, (_, _, a) in enumerate(grp):
            for dist in range(1, SN_WINDOW + 1):
                if i + dist >= len(grp):
                    break
                b = grp[i + dist][2]
                pa, pb = docs[a][:_EDIT_PREFIX], docs[b][:_EDIT_PREFIX]
                e = lev(pa, pb)
                if e <= _EDIT_MAX:
                    ref[(a, b)] = (
                        dist,
                        e,
                        e * 1_000_000 // max(len(pa), len(pb)),
                    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["rank_dist"], r["edit_dist"], r["edit_ppm"])
        for r in dedup_edit_distance(spark, SF).collect()
    }
    assert got == ref


# ----------------------------------------- A76: ABC classification --------
def test_customer_abc_matches_python(spark):
    """Independent recompute of the value-weighted Pareto boundaries and
    every class population."""
    from project_obsidian_core_spark.plans.behavior_queries import customer_abc
    from project_obsidian_core_spark.plans.common import load

    per: dict[int, int] = {}
    for r in load(spark, SF, "orders").select(
        "o_custkey",
        F.expr("cast(round(o_totalprice * 100, 0) as bigint)").alias("pc"),
    ).collect():
        per[r["o_custkey"]] = per.get(r["o_custkey"], 0) + r["pc"]
    total = sum(per.values())
    vals = sorted(per.values(), reverse=True)
    # distinct-value cumulative-through walk (descending)
    from collections import Counter

    vc = Counter(per.values())
    thr = {}
    through = 0
    for v in sorted(vc, reverse=True):
        through += v * vc[v]
        for k in (7, 9):
            if k not in thr and through * 10 >= total * k:
                thr[k] = v
    cls = lambda v: "A" if v >= thr[7] else ("B" if v >= thr[9] else "C")  # noqa: E731
    ref: dict[str, list[int]] = {}
    for v in per.values():
        c = ref.setdefault(cls(v), [0, 0])
        c[0] += 1
        c[1] += v
    got = {r["abc_class"]: r for r in customer_abc(spark, SF).collect()}
    assert set(got) == set(ref)
    for k, (n, val) in ref.items():
        row = got[k]
        assert (row["n_customers"], row["value_cents"]) == (n, val)
        assert row["share_ppm"] == val * 1_000_000 // total
    # Pareto sanity: A covers >= 70% of revenue with < 70% of customers
    assert got["A"]["share_ppm"] >= 700_000
    if "C" in got:
        assert got["A"]["n_customers"] < 7 * len(per) // 10
    assert sum(r["n_customers"] for r in got.values()) == len(per)
    assert vals[0] >= thr[7]  # the top value is always class A


# ------------------------------- T28: streaming Mann-Whitney --------------
def test_mannwhitney_from_counts_matches_scipy_style_bruteforce():
    """The count-map rank algebra must equal the literal rank-sum over
    the expanded sample, ties included."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        fold_value_counts,
        mannwhitney_from_counts,
    )

    cases = [
        ([1.0, 2.0, 2.0, 3.0], [5.0, 2.0, 2.0]),
        ([1.5], [1.5, 1.5]),
        ([10.0, 20.0], []),
        ([0.5, 0.5, 0.5], [0.5, 0.5]),
    ]
    for xs_a, xs_b in cases:
        vals, da, db = [], [], []
        rows = [(v, True) for v in xs_a] + [(v, False) for v in xs_b]
        vals, da, db = fold_value_counts(vals, da, db, rows)
        n_a, n_b, r2, u2, tie, z = mannwhitney_from_counts(vals, da, db)
        # literal midranks over the pooled sample
        pooled = sorted(xs_a + xs_b)
        rank2 = {}
        i = 0
        while i < len(pooled):
            j = i
            while j < len(pooled) and pooled[j] == pooled[i]:
                j += 1
            for _ in range(i, j):
                rank2[pooled[i]] = (i + 1) + j  # 2x midrank = first + last
            i = j
        assert n_a == len(xs_a) and n_b == len(xs_b)
        assert r2 == sum(rank2[v] for v in xs_a)
        assert u2 == r2 - n_a * (n_a + 1)
        from collections import Counter

        assert tie == sum(t**3 - t for t in Counter(pooled).values())


def test_mannwhitney_fold_is_arrival_order_free():
    import itertools

    from project_obsidian_core_spark.streaming.sequence_state import (
        fold_value_counts,
        mannwhitney_from_counts,
    )

    rows = [(1.0, True), (2.0, False), (2.0, True), (3.0, False), (1.0, False)]
    want = None
    for perm in itertools.permutations(rows):
        vals, da, db = [], [], []
        for chunk in (perm[:2], perm[2:4], perm[4:]):
            vals, da, db = fold_value_counts(vals, da, db, chunk)
        got = mannwhitney_from_counts(vals, da, db)
        want = got if want is None else want
        assert got == want


def test_stream_mannwhitney_drained_equals_batch(spark):
    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        events_mannwhitney,
    )
    from project_obsidian_core_spark.plans.streaming_queries import (
        stream_mannwhitney,
    )

    got = [tuple(r) for r in stream_mannwhitney(spark, SF).collect()]
    ref = [tuple(r) for r in events_mannwhitney(spark, SF).collect()]
    assert got == ref


# ----------------------------------- G11: h-hop reachability --------------
def test_knn_khop_reachability_matches_python(spark):
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        _GRAPH_K,
        _GRAPH_VECS,
        knn_khop_reachability,
    )

    emb = {
        r["vec_id"]: r["embedding"]
        for r in load(spark, SF, "embeddings")
        .filter(F.col("vec_id") < _GRAPH_VECS)
        .collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    adj: dict[int, set] = {q: set() for q in emb}
    for q, v in emb.items():
        scored = sorted(((-cos(v, w), c) for c, w in emb.items() if c != q))[
            :_GRAPH_K
        ]
        for _, c in scored:
            adj[q].add(c)
            adj[c].add(q)
    ref = Counter()
    for src in adj:
        seen = set(adj[src])
        frontier = set(adj[src])
        for _ in range(2):
            nxt = set()
            for m in frontier:
                nxt |= adj[m]
            nxt -= {src}
            frontier = nxt - seen
            seen |= nxt
        ref[len(seen)] += 1
    got = {
        r["n_reached"]: r["n_nodes"]
        for r in knn_khop_reachability(spark, SF).collect()
    }
    assert got == dict(ref)
    assert sum(got.values()) == len(emb)


# ------------------------------ P10: mixture-balancing sampler -------------
def test_corpus_mixture_sample_matches_python(spark):
    import hashlib

    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.pipeline_queries import (
        _MIX_SALT,
        corpus_mixture_sample,
    )

    docs = [
        (r["doc_id"], r["source"])
        for r in load(spark, SF, "documents").collect()
    ]
    per_src = Counter(s for _, s in docs)
    min_cnt = min(per_src.values())
    rate = {s: min_cnt * 1_000_000 // n for s, n in per_src.items()}

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    kept = Counter()
    for d, s in docs:
        if h60(f"{_MIX_SALT}:{d}") % 1_000_000 < rate[s]:
            kept[s] += 1
    got = {r["source"]: r for r in corpus_mixture_sample(spark, SF).collect()}
    assert set(got) == set(per_src)
    for s in per_src:
        row = got[s]
        assert row["n_total"] == per_src[s]
        assert row["rate_ppm"] == rate[s]
        assert row["n_kept"] == kept.get(s, 0)
        assert row["realized_ppm"] == kept.get(s, 0) * 1_000_000 // per_src[s]
    # the smallest source keeps (statistically) everything: rate is 1e6
    smallest = min(per_src, key=lambda s: (per_src[s], s))
    assert rate[smallest] == 1_000_000
    assert got[smallest]["n_kept"] == per_src[smallest]


def test_mixture_sample_is_incremental(spark):
    """The reproducibility contract: re-running over a GROWN corpus
    keeps exactly the previously-kept docs whose source rate is
    unchanged (the hash decides per doc, not per run)."""
    import hashlib

    from project_obsidian_core_spark.plans.pipeline_queries import _MIX_SALT

    def keep(doc_id, rate_ppm):
        h = int(
            hashlib.md5(f"{_MIX_SALT}:{doc_id}".encode()).hexdigest()[:15], 16
        )
        return h % 1_000_000 < rate_ppm

    rate = 350_000
    first = {d for d in range(1000) if keep(d, rate)}
    second = {d for d in range(2000) if keep(d, rate)}
    assert first == {d for d in second if d < 1000}


# ------------------------------ A77: funnel deadline-window sweep ---------
def test_events_funnel_sweep_matches_python(spark):
    from project_obsidian_core_spark.plans.behavior_queries import (
        _FUNNEL_WINDOWS_H,
        _STAGES,
        events_funnel_sweep,
    )
    from project_obsidian_core_spark.plans.common import load

    rows = load(spark, SF, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_type"
    ).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["us"], r["event_type"]))
    ref = Counter()
    for h in _FUNNEL_WINDOWS_H:
        w_us = h * 3_600_000_000
        for seq in by_user.values():
            t1 = min((t for t, y in seq if y == _STAGES[0]), default=None)
            if t1 is None:
                continue
            ref[(h, 1)] += 1
            dl = t1 + w_us
            t2 = min(
                (t for t, y in seq if y == _STAGES[1] and t1 <= t <= dl),
                default=None,
            )
            if t2 is None:
                continue
            ref[(h, 2)] += 1
            t3 = min(
                (t for t, y in seq if y == _STAGES[2] and t2 <= t <= dl),
                default=None,
            )
            if t3 is not None:
                ref[(h, 3)] += 1
    got = {
        (r["window_hours"], r["stage_idx"]): r["n_users"]
        for r in events_funnel_sweep(spark, SF).collect()
    }
    assert got == dict(ref)
    # the operating curve is monotone: a longer deadline never loses users
    hs = sorted(_FUNNEL_WINDOWS_H)
    for s in (2, 3):
        for a, b in zip(hs, hs[1:]):
            assert got.get((a, s), 0) <= got.get((b, s), 0)


# ------------------------------------ M5: windowed audio energy -----------
def test_media_audio_energy_matches_python(spark):
    import hashlib

    from project_obsidian_core_spark.datapipe.multimodal import (
        BLOCK_BYTES,
        ENERGY_WINDOW,
        PAYLOAD_BLOCKS,
    )
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        media_audio_energy,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").collect()
        if r["doc_id"] % 3 == 1  # the audio assignment
    }
    ref = {}
    for d, text in docs.items():
        payload = b"".join(
            hashlib.md5(f"{text}:{i}".encode()).digest()
            for i in range(1, PAYLOAD_BLOCKS + 1)
        )
        n_win = len(payload) // ENERGY_WINDOW
        for w in range(n_win):
            win = payload[w * ENERGY_WINDOW : (w + 1) * ENERGY_WINDOW]
            s = sum(win)
            q = sum(x * x for x in win)
            ref[(d, w)] = (ENERGY_WINDOW, s, q, q / ENERGY_WINDOW)
    got = {
        (r["doc_id"], r["window_idx"]): (
            r["n"],
            r["sample_sum"],
            r["sample_sq_sum"],
            r["mean_square"],
        )
        for r in media_audio_energy(spark, SF).collect()
    }
    assert got == ref and len(got) == len(docs) * (
        PAYLOAD_BLOCKS * BLOCK_BYTES // ENERGY_WINDOW
    )


# ------------------------------------ M6/M7: video cuts, image histogram --
def test_media_scene_cuts_matches_python(spark):
    import hashlib

    from project_obsidian_core_spark.datapipe.multimodal import (
        FRAME_BYTES,
        PAYLOAD_BLOCKS,
        SCENE_CUT_THRESHOLD,
    )
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        media_scene_cuts,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").collect()
        if r["doc_id"] % 3 == 2  # the video assignment
    }
    ref = {}
    for d, text in docs.items():
        payload = b"".join(
            hashlib.md5(f"{text}:{i}".encode()).digest()
            for i in range(1, PAYLOAD_BLOCKS + 1)
        )
        frames = [
            payload[j * FRAME_BYTES : (j + 1) * FRAME_BYTES]
            for j in range(len(payload) // FRAME_BYTES)
        ]
        for j in range(1, len(frames)):
            sad = sum(abs(a - b) for a, b in zip(frames[j], frames[j - 1]))
            ref[(d, j)] = (sad, sad > SCENE_CUT_THRESHOLD)
    got = {
        (r["doc_id"], r["frame_idx"]): (r["sad"], r["is_cut"])
        for r in media_scene_cuts(spark, SF).collect()
    }
    assert got == ref
    # the synthetic frames are md5 noise: SAD concentrates around its
    # random-bytes mean (~85*16), so both cut and non-cut rows exist
    assert any(c for _, c in got.values()) and not all(
        c for _, c in got.values()
    )


def test_media_image_histogram_matches_python(spark):
    import hashlib

    from project_obsidian_core_spark.datapipe.multimodal import (
        IMAGE_HIST_BINS,
        PAYLOAD_BLOCKS,
    )
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        media_image_histogram,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").collect()
        if r["doc_id"] % 3 == 0  # the image assignment
    }
    width = 256 // IMAGE_HIST_BINS
    ref = {}
    for d, text in docs.items():
        payload = b"".join(
            hashlib.md5(f"{text}:{i}".encode()).digest()
            for i in range(1, PAYLOAD_BLOCKS + 1)
        )
        for b in range(IMAGE_HIST_BINS):
            ref[(d, b)] = sum(1 for x in payload if x // width == b)
    got = {
        (r["doc_id"], r["bin_idx"]): r["n_bytes"]
        for r in media_image_histogram(spark, SF).collect()
    }
    assert got == ref
    # fixed output shape: every (doc, bin) present, rows sum to payload
    for d in docs:
        assert sum(got[(d, b)] for b in range(IMAGE_HIST_BINS)) == len(
            payload
        )


# ------------------------------------ A78: growth accounting --------------
def test_events_growth_accounting_matches_python(spark):
    from project_obsidian_core_spark.plans.behavior_queries import (
        events_growth_accounting,
    )
    from project_obsidian_core_spark.plans.common import load

    rows = load(spark, SF, "events").select(
        "user_id", F.expr("unix_micros(ts) div 604800000000").alias("w")
    ).collect()
    weeks_by_user: dict[int, set] = {}
    for r in rows:
        weeks_by_user.setdefault(r["user_id"], set()).add(r["w"])
    ledger: dict[int, Counter] = {}
    for ws in weeks_by_user.values():
        sw = sorted(ws)
        for i, w in enumerate(sw):
            c = ledger.setdefault(w, Counter())
            c["active"] += 1
            if i == 0:
                c["new"] += 1
            elif sw[i - 1] == w - 1:
                c["retained"] += 1
            else:
                c["resurrected"] += 1
    got = {r["week"]: r for r in events_growth_accounting(spark, SF).collect()}
    assert set(got) == set(ledger)
    for w, c in ledger.items():
        row = got[w]
        assert row["n_active"] == c["active"]
        assert row["n_new"] == c["new"]
        assert row["n_retained"] == c["retained"]
        assert row["n_resurrected"] == c["resurrected"]
        # the growth-accounting identities
        assert row["n_new"] + row["n_retained"] + row["n_resurrected"] == row[
            "n_active"
        ]
        prev_active = ledger.get(w - 1, Counter())["active"]
        assert row["n_churned"] == prev_active - c["retained"]


# ------------------------------ A79: series completeness report -----------
def test_metric_completeness_report_matches_python(spark):
    from project_obsidian_core_spark.plans.metrics_queries import (
        metric_completeness_report,
        synthesize_metrics,
    )

    rows = synthesize_metrics(spark, SF).select(
        "metric_name", F.expr("unix_micros(time) div 3600000000").alias("x")
    ).collect()
    grids: dict[str, set] = {}
    for r in rows:
        grids.setdefault(r["metric_name"], set()).add(r["x"])
    got = {
        r["metric_name"]: r
        for r in metric_completeness_report(spark, SF).collect()
    }
    assert set(got) == set(grids)
    for m, xs in grids.items():
        sx = sorted(xs)
        row = got[m]
        expected = sx[-1] - sx[0] + 1
        gap = max((b - a - 1 for a, b in zip(sx, sx[1:])), default=0)
        assert row["n_observed"] == len(sx)
        assert (row["first_hour"], row["last_hour"]) == (sx[0], sx[-1])
        assert row["n_expected"] == expected
        assert row["n_missing"] == expected - len(sx)
        assert row["coverage_ppm"] == len(sx) * 1_000_000 // expected
        assert row["longest_gap_hours"] == gap
        # identity: observed + missing == expected
        assert row["n_observed"] + row["n_missing"] == row["n_expected"]


# ------------------------------------ A80: mix-drift timeline -------------
def test_events_mix_drift_matches_python(spark):
    from project_obsidian_core_spark.plans.behavior_queries import (
        events_mix_drift,
    )
    from project_obsidian_core_spark.plans.common import load

    rows = load(spark, SF, "events").select(
        F.expr("unix_micros(ts) div 604800000000").alias("w"), "event_type"
    ).collect()
    wk: dict[int, Counter] = {}
    for r in rows:
        wk.setdefault(r["w"], Counter())[r["event_type"]] += 1
    mix = {
        w: {t: c * 1_000_000 // sum(cnts.values()) for t, c in cnts.items()}
        for w, cnts in wk.items()
    }
    ref = {}
    for w, m in mix.items():
        p = mix.get(w - 1, {})
        types = set(m) | set(p)
        ref[w] = (
            len(types),
            sum(abs(m.get(t, 0) - p.get(t, 0)) for t in types),
        )
    got = {
        r["week"]: (r["n_types"], r["l1_drift_ppm"])
        for r in events_mix_drift(spark, SF).collect()
    }
    assert got == ref
    # the first week's drift is its full mass (~1e6, minus div-floor loss)
    w0 = min(ref)
    assert got[w0][1] >= 1_000_000 - got[w0][0]


# --------------------------- T29: streaming CUSUM (r12) -------------------
def test_cusum_from_series_equals_textbook_recursion():
    """The closed-form prefix-extrema walk equals the non-associative
    S = max(0, S + dev) recursion (both sides, n-scaled devs)."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        cusum_from_series,
    )

    sums = [10, 50, 5, 40, 2, 2, 90]
    buckets = list(range(100, 100 + len(sums)))
    n, tot = len(sums), sum(sums)
    s_pos = s_neg = 0
    want = []
    for x, y in zip(buckets, sums):
        dev = y * n - tot
        s_pos = max(0, s_pos + dev)
        s_neg = max(0, s_neg - dev)
        want.append((x, y, s_pos, s_neg))
    assert cusum_from_series(buckets, sums) == want


def test_cusum_fold_is_arrival_order_free():
    """Every bucket's deviation is against the GLOBAL mean, so one late
    bucket shifts the whole curve — the re-walk must converge to the
    same rows whatever the delivery order."""
    import itertools

    from project_obsidian_core_spark.streaming.sequence_state import (
        cusum_from_series,
        fold_bucket_sums,
    )

    rows = [(100, 10), (101, 50), (102, 5), (103, 40), (104, 2)]
    want = None
    for perm in itertools.permutations(rows):
        buckets, sums = [], []
        for chunk in (perm[:2], perm[2:4], perm[4:]):
            buckets, sums = fold_bucket_sums(buckets, sums, chunk)
        got = cusum_from_series(buckets, sums)
        want = got if want is None else want
        assert got == want


def test_stream_cusum_drained_equals_batch(spark):
    from project_obsidian_core_spark.plans.metrics_queries import (
        metric_cusum,
    )
    from project_obsidian_core_spark.plans.streaming_queries import (
        stream_cusum,
    )

    got = [tuple(r) for r in stream_cusum(spark, SF).collect()]
    ref = [tuple(r) for r in metric_cusum(spark, SF).collect()]
    assert got == ref


# ------------------------ T30: streaming Holt (r12) -----------------------
def test_holt_from_series_matches_batch_fold_chain():
    """The python replay is the identical IEEE chain the batch aggregate
    fold evaluates: same constants, same operation order."""
    from project_obsidian_core_spark.plans.metrics_queries import (
        HOLT_ALPHA,
        HOLT_BETA,
    )
    from project_obsidian_core_spark.streaming.sequence_state import (
        holt_from_series,
    )

    ys = [1000, 1500, 900, 2200, 2100, 3000, 2800]
    l, b = ys[0], float(ys[1] - ys[0])
    for x in ys[2:]:
        lnew = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * (l + b)
        b = HOLT_BETA * (lnew - l) + (1.0 - HOLT_BETA) * b
        l = lnew
    assert holt_from_series(ys, HOLT_ALPHA, HOLT_BETA) == (l, b)
    assert holt_from_series([5], HOLT_ALPHA, HOLT_BETA) is None


def test_holt_fold_is_arrival_order_free():
    """A late FIRST bucket re-seeds b1 = y2 - y1 and shifts every later
    step: the replayed recursion must converge whatever the delivery
    order — the property no scalar (l, b) state survives."""
    import itertools

    from project_obsidian_core_spark.streaming.sequence_state import (
        fold_bucket_sums,
        holt_from_series,
    )

    rows = [(100, 10), (101, 50), (102, 5), (103, 40), (104, 2)]
    want = None
    for perm in itertools.permutations(rows):
        buckets, sums = [], []
        for chunk in (perm[:2], perm[2:4], perm[4:]):
            buckets, sums = fold_bucket_sums(buckets, sums, chunk)
        got = holt_from_series(sums, 0.3, 0.1)
        want = got if want is None else want
        assert got == want


def test_stream_holt_drained_equals_batch(spark):
    from project_obsidian_core_spark.plans.metrics_queries import metric_holt
    from project_obsidian_core_spark.plans.streaming_queries import (
        stream_holt,
    )

    got = [tuple(r) for r in stream_holt(spark, SF).collect()]
    ref = [tuple(r) for r in metric_holt(spark, SF).collect()]
    assert got == ref


# ----------------------------------- G12: harmonic closeness --------------
def test_knn_closeness_matches_python_bfs(spark):
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        _GRAPH_K,
        _GRAPH_VECS,
        knn_closeness,
    )

    emb = {
        r["vec_id"]: r["embedding"]
        for r in load(spark, SF, "embeddings")
        .filter(F.col("vec_id") < _GRAPH_VECS)
        .collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    adj: dict[int, set] = {q: set() for q in emb}
    for q, v in emb.items():
        scored = sorted(((-cos(v, w), c) for c, w in emb.items() if c != q))[
            :_GRAPH_K
        ]
        for _, c in scored:
            adj[q].add(c)
            adj[c].add(q)
    ref = {}
    for src in adj:
        dist = {n: 1 for n in adj[src]}
        frontier = set(adj[src])
        for d in (2, 3):
            nxt = set()
            for m in frontier:
                nxt |= adj[m]
            nxt.discard(src)
            frontier = {n for n in nxt if n not in dist}
            for n in frontier:
                dist[n] = d
        ref[src] = (len(dist), sum(1_000_000 // d for d in dist.values()))
    got = {
        r["vec_id"]: (r["n_reached"], r["harmonic_ppm"])
        for r in knn_closeness(spark, SF).collect()
    }
    assert got == ref


# ------------------------ A82: Nelson-Aalen hazard (r12) ------------------
def test_nelson_aalen_matches_python(spark):
    """H(t) increments recomputed directly from the per-customer order
    days: events = reorder gaps, censored = last-order tails at the
    corpus max, risk set = survivors at t, hazard in integer ppm."""
    from collections import Counter

    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.relational_queries import (
        orders_nelson_aalen,
    )

    days = {}
    for r in (
        load(spark, SF, "orders")
        .selectExpr("o_custkey", "unix_micros(o_orderdate) div 86400000000 d")
        .collect()
    ):
        days.setdefault(r["o_custkey"], []).append(r["d"])
    last = max(max(v) for v in days.values())
    ev, cz = Counter(), Counter()
    for seq in days.values():
        seq.sort()
        for a, b in zip(seq, seq[1:]):
            ev[b - a] += 1
        cz[last - seq[-1]] += 1
    durs = sorted(set(ev) | set(cz))
    total = sum(ev.values()) + sum(cz.values())
    want, seen, cum = {}, 0, 0
    for t in durs:
        n_risk = total - seen
        step = 1_000_000 * ev[t] // n_risk
        cum += step
        want[t] = (ev[t], cz[t], n_risk, step, cum)
        seen += ev[t] + cz[t]
    got = {
        r["t_days"]: (
            r["n_events"], r["n_censored"], r["n_risk"],
            r["hazard_step_ppm"], r["hazard_cum_ppm"],
        )
        for r in orders_nelson_aalen(spark, SF).collect()
    }
    assert got == want
    # the cumulative curve is monotone non-decreasing (a hazard never
    # un-happens) — the property the per-step gate alone wouldn't pin
    cums = [want[t][4] for t in durs]
    assert cums == sorted(cums)


# ------------------------ T31: streaming ACF (r12) ------------------------
def test_acf_from_series_matches_python():
    """Direct recompute: min-centered dollar-quantized pairs at each
    bucket-index lag, exact-int moments, the batch IEEE float chain."""
    import math

    from project_obsidian_core_spark.streaming.sequence_state import (
        acf_from_series,
    )

    buckets = [100, 101, 102, 104, 105]  # gap at 103 pairs nothing
    sums = [1000, 1500, 900, 2200, 2100]
    mn = min(sums)
    yc = {b: (y - mn) // 100 for b, y in zip(buckets, sums)}
    want = []
    for lag in (1, 2, 3):
        ps = [(yc[b], yc[b + lag]) for b in buckets if b + lag in yc]
        if not ps:
            continue
        n = len(ps)
        sa = sum(a for a, _ in ps); sb = sum(b for _, b in ps)
        sab = sum(a * b for a, b in ps)
        saa = sum(a * a for a, _ in ps); sbb = sum(b * b for _, b in ps)
        num, dx, dy = n * sab - sa * sb, n * saa - sa * sa, n * sbb - sb * sb
        acf = (float(num) / math.sqrt(float(dx) * float(dy))
               if dx > 0 and dy > 0 else None)
        want.append((lag, n, num, dx, dy, acf))
    assert acf_from_series(buckets, sums, 3) == want
    # the 103 gap: lag-1 pairs are (100,101),(101,102),(104,105) only
    assert acf_from_series(buckets, sums, 3)[0][1] == 3


def test_acf_fold_is_arrival_order_free():
    import itertools

    from project_obsidian_core_spark.streaming.sequence_state import (
        acf_from_series,
        fold_bucket_sums,
    )

    rows = [(100, 10), (101, 50), (102, 5), (103, 40), (104, 2)]
    want = None
    for perm in itertools.permutations(rows):
        buckets, sums = [], []
        for chunk in (perm[:2], perm[2:4], perm[4:]):
            buckets, sums = fold_bucket_sums(buckets, sums, chunk)
        got = acf_from_series(buckets, sums, 3)
        want = got if want is None else want
        assert got == want


def test_stream_acf_drained_equals_batch(spark):
    from project_obsidian_core_spark.plans.metrics_queries import metric_acf
    from project_obsidian_core_spark.plans.streaming_queries import stream_acf

    got = [tuple(r) for r in stream_acf(spark, SF).collect()]
    ref = [tuple(r) for r in metric_acf(spark, SF).collect()]
    assert got == ref


# ------------------------ T32: streaming Theil-Sen (r12) ------------------
def test_theil_sen_from_series_matches_python():
    """Lower-median of pairwise slopes, rank ceil(p/2) of the ascending
    sort — identical element both engines pick."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        theil_sen_from_series,
    )

    buckets = [100, 101, 103, 106, 107]
    sums = [1000, 1500, 900, 2200, 2100]
    slopes = sorted(
        (sums[j] - sums[i]) / (buckets[j] - buckets[i])
        for i in range(5)
        for j in range(i + 1, 5)
    )
    p = len(slopes)
    want = (p, slopes[-(-p // 2) - 1])
    assert theil_sen_from_series(buckets, sums) == want
    assert theil_sen_from_series([1], [5]) is None


def test_theil_sen_fold_is_arrival_order_free():
    import itertools

    from project_obsidian_core_spark.streaming.sequence_state import (
        fold_bucket_sums,
        theil_sen_from_series,
    )

    rows = [(100, 10), (101, 50), (102, 5), (103, 40), (104, 2)]
    want = None
    for perm in itertools.permutations(rows):
        buckets, sums = [], []
        for chunk in (perm[:2], perm[2:4], perm[4:]):
            buckets, sums = fold_bucket_sums(buckets, sums, chunk)
        got = theil_sen_from_series(buckets, sums)
        want = got if want is None else want
        assert got == want


def test_stream_theil_sen_drained_equals_batch(spark):
    from project_obsidian_core_spark.plans.metrics_queries import (
        metric_theil_sen,
    )
    from project_obsidian_core_spark.plans.streaming_queries import (
        stream_theil_sen,
    )

    got = [tuple(r) for r in stream_theil_sen(spark, SF).collect()]
    ref = [tuple(r) for r in metric_theil_sen(spark, SF).collect()]
    assert got == ref


# ------------------------ A83: log-rank test (r12) ------------------------
def test_logrank_matches_python(spark):
    """Per-duration cohort counts, risk sets, the exact-int O-E
    numerator, the variance chain, and the out-of-gate z against a
    direct python recompute."""
    import math

    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.relational_queries import (
        logrank_z,
        orders_logrank,
    )

    seg = {
        r["c_custkey"]: 1 if r["c_mktsegment"] == "BUILDING" else 0
        for r in load(spark, SF, "customer").collect()
    }
    days = {}
    for r in (
        load(spark, SF, "orders")
        .selectExpr("o_custkey", "unix_micros(o_orderdate) div 86400000000 d")
        .collect()
    ):
        days.setdefault(r["o_custkey"], []).append(r["d"])
    last = max(max(v) for v in days.values())
    obs = []  # (dur, ga, ev)
    for cust, seq in days.items():
        seq.sort()
        ga = seg[cust]
        for a, b in zip(seq, seq[1:]):
            obs.append((b - a, ga, 1))
        obs.append((last - seq[-1], ga, 0))
    durs = sorted({d for d, _, _ in obs})
    want = {}
    oe_sum = var_sum = 0.0
    rem_a = sum(1 for _, g, _ in obs if g)
    rem_b = len(obs) - rem_a
    from collections import Counter

    by_dur = {}
    for d, g, e in obs:
        by_dur.setdefault(d, Counter())[(g, e)] += 1
    for t in durs:
        c = by_dur[t]
        d_a, d_b = c[(1, 1)], c[(0, 1)]
        c_a, c_b = c[(1, 0)], c[(0, 0)]
        n_a, n_b = rem_a, rem_b
        n, d = n_a + n_b, d_a + d_b
        oe_num = d_a * n - d * n_a
        var_t = (
            (float(d) * float(n_a) * float(n_b) * float(n - d))
            / (float(n) * float(n) * float(n - 1))
            if n > 1
            else None
        )
        want[t] = (d_a, d_b, c_a, c_b, n_a, n_b, oe_num, var_t)
        oe_sum += float(oe_num) / float(n)
        if var_t is not None:
            var_sum += var_t
        rem_a -= d_a + c_a
        rem_b -= d_b + c_b
    df = orders_logrank(spark, SF)
    got = {
        r["t_days"]: (
            r["d_a"], r["d_b"], r["c_a"], r["c_b"],
            r["n_a"], r["n_b"], r["oe_num"], r["var_t"],
        )
        for r in df.collect()
    }
    assert got == want
    z = logrank_z(df).collect()[0]
    assert z["var_sum"] == __import__("pytest").approx(var_sum)
    assert z["z"] == __import__("pytest").approx(oe_sum / math.sqrt(var_sum))
