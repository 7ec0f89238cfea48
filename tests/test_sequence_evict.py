"""Watermark eviction for the ordered-sequence state (round 11 — the
r10 verdict's #3): the six T20-T25 consumers promised "bound state with
the retention window" in prose; these tests pin the implemented
contract for the two evicting consumers (transitions, gap sessions) —
finals ∪ max-version live ≡ batch, and state actually SHRINKS (the
long-stream bound), plus the (ts, event_id) replay-idempotence of the
shared merge."""

from __future__ import annotations

import pytest

BASE_US = 1_700_000_000_000_000  # a fixed epoch anchor, microseconds


def _write_bursts(spark, tmp_path, rows_per_burst, name):
    """One parquet file per burst -> one micro-batch per burst under
    maxFilesPerTrigger=1 (the islands-evict harness pattern)."""
    from pyspark.sql import functions as F

    src = str(tmp_path / name)
    for burst in rows_per_burst:
        spark.createDataFrame(
            burst,
            "user_id long, event_id long, ts_us long, payload long, "
            "event_type string",
        ).coalesce(1).write.mode("append").parquet(src)
    schema = (
        "user_id long, event_id long, ts_us long, payload long, "
        "event_type string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", "1 minute")
    )


def _run(out, tmp_path, qname):
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{qname}"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()


def _transition_bursts():
    """Two users, six bursts one hour apart; intra-burst spacing 5 s so a
    whole burst fits inside the 1-minute watermark delay.  Each burst
    uses its own two-letter alphabet, so surviving live pairs betray
    which rows are still in state."""
    bursts = []
    eid = 0
    for b in range(6):
        rows = []
        t0 = BASE_US + b * 3_600_000_000
        a, z = chr(ord("a") + b), chr(ord("n") + b)
        for j in range(8):
            for user in (1, 2):
                rows.append(
                    (user, eid, t0 + j * 5_000_000, 0, a if j % 2 else z)
                )
                eid += 1
        bursts.append(rows)
    return bursts


def _expected_transitions(bursts):
    per_user: dict[int, list[tuple[int, int, str]]] = {}
    for burst in bursts:
        for u, e, t, _, y in burst:
            per_user.setdefault(u, []).append((t, e, y))
    truth: dict[tuple[int, str, str], int] = {}
    for u, seq in per_user.items():
        seq.sort()
        for (_, _, p), (_, _, q) in zip(seq, seq[1:]):
            truth[(u, p, q)] = truth.get((u, p, q), 0) + 1
    return truth


def test_transitions_evict_finals_plus_live_equal_batch(spark, tmp_path):
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_transitions,
    )

    bursts = _transition_bursts()
    stream = _write_bursts(spark, tmp_path, bursts, "tsrc").select(
        "user_id", "event_id", "ts", "event_type"
    )
    _run(streaming_transitions(stream, evict=True), tmp_path, "trans_evict")
    em = spark.table("trans_evict").collect()
    finals = [r for r in em if r["is_final"]]
    assert finals, "watermark eviction never fired"
    live = [r for r in em if not r["is_final"]]
    got: dict[tuple[int, str, str], int] = {}
    for r in finals:
        k = (r["user_id"], r["prev_type"], r["next_type"])
        got[k] = got.get(k, 0) + r["n"]
    vmax = {}
    for r in live:
        vmax[r["user_id"]] = max(vmax.get(r["user_id"], 0), r["version"])
    for r in live:
        if r["version"] == vmax[r["user_id"]]:
            k = (r["user_id"], r["prev_type"], r["next_type"])
            got[k] = got.get(k, 0) + r["n"]
    assert got == _expected_transitions(bursts)
    # the long-stream state bound: at the final version each user's live
    # pairs cover at most the last un-frozen bursts plus the boundary
    # anchor — a small constant, nowhere near the 47-pair full history
    for u in (1, 2):
        live_n = sum(
            r["n"]
            for r in live
            if r["user_id"] == u and r["version"] == vmax[u]
        )
        assert live_n <= 2 * 8, live_n
    # eviction also moved most of the mass into finals
    assert sum(r["n"] for r in finals) > sum(
        v for (u, _, _), v in _expected_transitions(bursts).items()
    ) // 2


def test_transitions_evict_live_pairs_use_recent_alphabet(spark, tmp_path):
    """Direct observation that old rows LEFT state: the last version's
    live pairs may only mention the final bursts' alphabets (plus the
    single boundary-anchor type) — six-burst history would otherwise
    surface 'a'/'n' pairs at the end."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_transitions,
    )

    bursts = _transition_bursts()
    stream = _write_bursts(spark, tmp_path, bursts, "tsrc2").select(
        "user_id", "event_id", "ts", "event_type"
    )
    _run(streaming_transitions(stream, evict=True), tmp_path, "trans_evict2")
    em = spark.table("trans_evict2").collect()
    live = [r for r in em if not r["is_final"]]
    vmax = max(r["version"] for r in live)
    last_types = {
        y
        for r in live
        if r["version"] == vmax
        for y in (r["prev_type"], r["next_type"])
    }
    # bursts 0-2 use alphabets {a,n}..{c,p}; none may survive live (the
    # boundary anchor is burst 3's LAST row, so burst 3's letters may
    # legitimately appear in the anchor's outgoing pair)
    stale = {chr(ord("a") + b) for b in range(3)} | {
        chr(ord("n") + b) for b in range(3)
    }
    assert not (last_types & stale), (last_types, stale)


def _session_bursts():
    """One user, six five-event bursts (10 s spacing, inside the 60 s
    gap), bursts an hour apart -> exactly one session per burst."""
    bursts = []
    eid = 0
    for b in range(6):
        rows = []
        t0 = BASE_US + b * 3_600_000_000
        for j in range(5):
            rows.append((1, eid, t0 + j * 10_000_000, (b + 1) * 100 + j, "x"))
            eid += 1
        bursts.append(rows)
    return bursts


def test_sessions_evict_finals_plus_live_equal_batch(spark, tmp_path):
    from project_obsidian_core_spark.streaming.sequence_state import (
        gap_sessions,
        streaming_gap_sessions,
    )

    bursts = _session_bursts()
    stream = _write_bursts(spark, tmp_path, bursts, "ssrc").selectExpr(
        "user_id", "event_id", "ts", "payload AS cents"
    )
    gap_us = 60_000_000
    _run(
        streaming_gap_sessions(stream, gap_us, evict=True),
        tmp_path,
        "sess_evict",
    )
    em = spark.table("sess_evict").collect()
    finals = [r for r in em if r["is_final"]]
    assert finals, "session eviction never fired"
    live = [r for r in em if not r["is_final"]]
    vmax = max(r["version"] for r in live)

    # drain contract (r13): finals take precedence by session_idx — a
    # timeout flush may finalize a session whose last live frame stays
    # the max-version one
    def tup(r):
        return (
            r["session_idx"],
            r["session_start_us"],
            r["session_end_us"],
            r["n_events"],
            r["value_sum"],
        )

    cur = {r["session_idx"]: tup(r) for r in finals}
    for r in live:
        if r["version"] == vmax and r["session_idx"] not in cur:
            cur[r["session_idx"]] = tup(r)
    got = sorted(cur.values())
    seq = sorted((t, e, v) for burst in bursts for (_, e, t, v, _) in burst)
    truth = gap_sessions(
        [t for t, _, _ in seq], [v for _, _, v in seq], gap_us
    )
    assert got == [tuple(r) for r in truth]
    # each session finalizes exactly once, and the state bound shows in
    # the live view: the final version carries only the open session
    # plus at most the penultimate one (the watermark trails the last
    # processed batch by the delay, so the previous burst's session
    # closes one batch late) — never the six-session full history
    assert len({r["session_idx"] for r in finals}) == len(finals)
    assert len([r for r in live if r["version"] == vmax]) <= 2


def test_merge_sequence_deduplicates_replayed_rows():
    """The ADVICE r10 item: a re-delivered (ts, event_id) row must not
    double-insert — state is idempotent under at-least-once replay."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        merge_sequence,
        transition_counts,
    )

    rows = [(10, 1, "a"), (20, 2, "b"), (30, 3, "a")]
    ts, eid, ty = merge_sequence([], [], [], rows)
    # replay the whole batch, and one row twice within a batch
    ts2, eid2, ty2 = merge_sequence(ts, eid, ty, rows + [rows[1]])
    assert (ts2, eid2, ty2) == (ts, eid, ty)
    assert transition_counts(ty2) == {("a", "b"): 1, ("b", "a"): 1}
    # conflicting payload on the same key resolves deterministically to
    # the first row in full-tuple sort order
    ts3, _, ty3 = merge_sequence(ts, eid, ty, [(20, 2, "z")])
    assert ts3 == ts and ty3 == ty


def test_funnel_and_ewma_states_unchanged_by_default(spark):
    """The three non-evicting wiring functions keep their r10 signatures
    and schemas (the registered gates run evict-free)."""
    from project_obsidian_core_spark.streaming import sequence_state as ss

    assert ss.OUTPUT_SCHEMA.fieldNames()[-1] == "version"
    assert ss.SESSION_OUTPUT_SCHEMA.fieldNames()[-1] == "version"
    assert ss.EVICT_OUTPUT_SCHEMA.fieldNames()[-1] == "is_final"
    assert ss.SESSION_EVICT_STATE_SCHEMA.fieldNames()[-1] == "closed_n"


def _asof_bursts():
    """Two users, six hourly bursts; each burst interleaves clicks and
    purchases with 5 s spacing (purchases land between clicks, so every
    burst exercises the lookup), delivered one burst per micro-batch."""
    bursts = []
    eid = 0
    for b in range(6):
        rows = []
        t0 = BASE_US + b * 3_600_000_000
        for j in range(8):
            for user in (1, 2):
                side = "R" if j % 3 == 2 else "L"
                rows.append(
                    (
                        user,
                        eid,
                        t0 + j * 5_000_000,
                        100 * (b + 1) + j,
                        side,
                    )
                )
                eid += 1
        bursts.append(rows)
    return bursts


def _expected_asof(bursts):
    """Python ASOF LEFT JOIN over the full row set (the batch truth)."""
    clicks: dict[int, list] = {}
    purchases: dict[int, list] = {}
    for burst in bursts:
        for u, e, t, c, side in burst:
            (clicks if side == "L" else purchases).setdefault(u, []).append(
                (t, e, c)
            )
    truth = {}
    for u, cl in clicks.items():
        # per-ts max cents purchase map (the operator's right-side fold)
        pmap: dict[int, int] = {}
        for t, _, c in purchases.get(u, []):
            pmap[t] = max(pmap.get(t, c), c)
        pts = sorted(pmap)
        import bisect

        for t, e, c in cl:
            i = bisect.bisect_right(pts, t)
            if i == 0:
                truth[e] = (u, t, c, None, None)
            else:
                truth[e] = (u, t, c, pts[i - 1], pmap[pts[i - 1]])
    return truth


def test_asof_evict_finals_plus_live_equal_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_asof_join,
    )

    bursts = _asof_bursts()
    src = str(tmp_path / "asrc")
    for burst in bursts:
        spark.createDataFrame(
            burst, "user_id long, event_id long, ts_us long, cents long, side string"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, ts_us long, cents long, side string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", "1 minute")
        .select("user_id", "event_id", "ts", "cents", "side")
    )
    out = streaming_asof_join(stream, evict=True)
    q = (
        out.writeStream.format("memory")
        .queryName("asof_evict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_asof"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    em = spark.table("asof_evict").collect()
    finals = [r for r in em if r["is_final"]]
    live = [r for r in em if not r["is_final"]]
    assert finals, "watermark eviction never fired"
    # each click finalizes exactly once
    fin_ids = [r["event_id"] for r in finals]
    assert len(fin_ids) == len(set(fin_ids))
    got = {
        r["event_id"]: (
            r["user_id"],
            r["ts_us"],
            r["cents"],
            r["last_purchase_us"],
            r["last_purchase_cents"],
        )
        for r in finals
    }
    vmax: dict[int, int] = {}
    for r in live:
        vmax[r["user_id"]] = max(vmax.get(r["user_id"], 0), r["version"])
    n_live_last = 0
    for r in live:
        if r["version"] == vmax[r["user_id"]]:
            assert r["event_id"] not in got  # finals and live are disjoint
            got[r["event_id"]] = (
                r["user_id"],
                r["ts_us"],
                r["cents"],
                r["last_purchase_us"],
                r["last_purchase_cents"],
            )
            n_live_last += 1
    assert got == _expected_asof(bursts)
    # the state bound: the watermark reflects the PREVIOUS batch's max
    # event time, so at drain each user's live clicks cover at most the
    # last TWO bursts (12 clicks), not the 36-click history
    assert n_live_last <= 2 * 12, n_live_last


def test_registered_sessionize_evict_plan_actually_evicts(spark):
    """The r12-registered `stream_sessionize_evict` gate row proves
    drain ≡ batch, but would also pass if eviction never fired (finals
    empty, everything served live).  Pin that the registered plan's own
    ordered-chunk replay at sf0.001 finalizes sessions out of state AND
    that each session finalizes exactly once."""
    from project_obsidian_core_spark.plans.streaming_queries import (
        _sessionize_evict_emitted,
    )

    em = _sessionize_evict_emitted(spark, "/root/testdata/sf0.001").collect()
    finals = [r for r in em if r["is_final"]]
    assert finals, "registered evict plan never finalized a session"
    # exactly-once finalization: no (user, session_idx) final dup
    keys = [(r["user_id"], r["session_idx"]) for r in finals]
    assert len(keys) == len(set(keys))
    # eviction actually shrinks the served state: the last live frame of
    # a user with finalized sessions must not re-carry them
    by_user = {}
    for r in em:
        if not r["is_final"]:
            by_user.setdefault(r["user_id"], []).append(r)
    finals_by_user = {}
    for u, i in keys:
        finals_by_user.setdefault(u, set()).add(i)
    # state shrink: sessions finalized at or before the user's last live
    # emission must have LEFT the live view (a timeout flush that lands
    # AFTER the last live frame — version > vmax — may legitimately
    # linger in the stale frame; the drain's finals-precedence handles
    # it, so only earlier finals are state-shrink evidence)
    fin_version = {
        (r["user_id"], r["session_idx"]): r["version"]
        for r in em
        if r["is_final"]
    }
    checked = 0
    for u, rows in by_user.items():
        if u not in finals_by_user:
            continue
        vmax = max(r["version"] for r in rows)
        live_idx = {r["session_idx"] for r in rows if r["version"] == vmax}
        early_finals = {
            i
            for i in finals_by_user[u]
            if fin_version[(u, i)] <= vmax
        }
        assert not (live_idx & early_finals), u
        checked += 1
    assert checked, "no user had both finals and live rows"


# ---------------- T21e: anchored-funnel eviction (r12, verdict #5) -------
_F_STAGES = ("view", "click", "purchase")
_F_WITHIN_US = 10 * 60 * 1_000_000  # 10-minute deadline


def _funnel_bursts():
    """Four users, six hourly bursts (deadline 10 min << burst spacing,
    so anchors expire).  Every user gets a `noise` row per burst so the
    state fn runs for their key (NoTimeout: only keys with input rows
    are invoked) and finalization can fire.

    * user 1: full view→click→purchase inside the window (burst 0) —
      finalizes at max_stage 3
    * user 2: view + click in-window, purchase AFTER the deadline —
      finalizes at max_stage 2
    * user 3: click/noise only, never a view — anchorless, never
      finalizes, served live at max_stage 0
    * user 4: view in the LAST burst — anchor not yet expired at drain,
      served live at max_stage 1
    """
    bursts = []
    eid = 0

    def row(u, t, y):
        nonlocal eid
        r = (u, eid, t, 0, y)
        eid += 1
        return r

    for b in range(6):
        t0 = BASE_US + b * 3_600_000_000
        rows = []
        if b == 0:
            rows += [
                row(1, t0, "view"),
                row(1, t0 + 60_000_000, "click"),
                row(1, t0 + 120_000_000, "purchase"),
                row(2, t0, "view"),
                row(2, t0 + 120_000_000, "click"),
                row(2, t0 + 20 * 60_000_000, "purchase"),  # past deadline
                row(3, t0 + 30_000_000, "click"),
            ]
        if b == 5:
            rows.append(row(4, t0 + 10_000_000, "view"))
        for u in (1, 2, 3, 4):
            rows.append(row(u, t0 + 200_000_000 + u * 1_000_000, "noise"))
        bursts.append(rows)
    return bursts


def test_funnel_evict_finals_plus_live_equal_batch(spark, tmp_path):
    from project_obsidian_core_spark.streaming.sequence_state import (
        funnel_progress,
        streaming_sequence_funnel,
    )

    bursts = _funnel_bursts()
    stream = _write_bursts(spark, tmp_path, bursts, "fsrc").select(
        "user_id", "event_id", "ts", "event_type"
    )
    _run(
        streaming_sequence_funnel(
            stream, _F_STAGES, _F_WITHIN_US, evict=True
        ),
        tmp_path,
        "funnel_evict",
    )
    em = spark.table("funnel_evict").collect()
    finals = [r for r in em if r["is_final"]]
    assert finals, "funnel eviction never fired"
    # exactly-once finalization per user
    fusers = [r["user_id"] for r in finals]
    assert len(fusers) == len(set(fusers))
    # tombstone holds: no emission of any kind after a user's final row
    for f in finals:
        later = [
            r for r in em
            if r["user_id"] == f["user_id"] and r["version"] > f["version"]
        ]
        assert not later, f["user_id"]
    # drain = finals ∪ live@vmax of unfinalized users ≡ batch greedy
    got = {r["user_id"]: r["max_stage"] for r in finals}
    live = [r for r in em if not r["is_final"]]
    vmax = {}
    for r in live:
        vmax[r["user_id"]] = max(vmax.get(r["user_id"], 0), r["version"])
    for r in live:
        if r["user_id"] not in got and r["version"] == vmax[r["user_id"]]:
            got[r["user_id"]] = r["max_stage"]
    per_user = {}
    for burst in bursts:
        for u, e, t, _, y in burst:
            per_user.setdefault(u, []).append((t, e, y))
    truth = {}
    for u, seq in per_user.items():
        seq.sort()
        truth[u] = funnel_progress(
            [t for t, _, _ in seq], [y for _, _, y in seq],
            _F_STAGES, _F_WITHIN_US,
        )
    assert got == truth
    assert {truth[1], truth[2], truth[3], truth[4]} == {3, 2, 0, 1}
    assert set(fusers) == {1, 2}  # expired anchors finalize, others live


def test_funnel_evict_state_bound_direct(fake_state):
    """State-bound pin via a fake GroupState: finalized users keep only
    the tombstone (empty arrays); anchorless users' below-watermark rows
    are pruned; a frozen unexpired anchor keeps only its window slice."""
    import pandas as pd

    from project_obsidian_core_spark.streaming import sequence_state as S
    from project_obsidian_core_spark.streaming.freeze_fold import (
        freeze_fold_fn,
    )

    fn = freeze_fold_fn(
        S.funnel_freeze(_F_STAGES, _F_WITHIN_US), S.FUNNEL_EVICT_STATE_SCHEMA
    )

    # anchorless user: 100 noise rows below the watermark all prune away
    st = fake_state(wm_ms=(BASE_US + 3_600_000_000) // 1000)
    b = pd.DataFrame(
        {
            "ts_us": [BASE_US + i * 1_000 for i in range(100)],
            "event_id": list(range(100)),
            "event_type": ["noise"] * 100,
        }
    )
    out = list(fn((3,), iter([b]), st))
    assert len(out) == 1 and not bool(out[0]["is_final"][0])
    ts, eid, types, version, done = st.get
    assert ts == [] and not done

    # frozen unexpired anchor: only the [anchor, anchor+within] slice stays
    st2 = fake_state(wm_ms=(BASE_US + 120_000_000) // 1000)
    b2 = pd.DataFrame(
        {
            "ts_us": [
                BASE_US - 50_000_000,          # pre-anchor, dead
                BASE_US,                        # anchor (view)
                BASE_US + 60_000_000,           # in-window click
                BASE_US + _F_WITHIN_US + 1,     # past deadline, dead
            ],
            "event_id": [0, 1, 2, 3],
            "event_type": ["noise", "view", "click", "purchase"],
        }
    )
    out2 = list(fn((5,), iter([b2]), st2))
    assert int(out2[0]["max_stage"][0]) == 2
    ts2, _, types2, _, done2 = st2.get
    assert ts2 == [BASE_US, BASE_US + 60_000_000] and not done2

    # expired anchor: final emit + tombstone; later rows emit NOTHING
    st3 = fake_state(wm_ms=(BASE_US + _F_WITHIN_US + 120_000_000) // 1000)
    out3 = list(fn((6,), iter([b2]), st3))
    assert bool(out3[0]["is_final"][0]) and int(out3[0]["max_stage"][0]) == 2
    ts3, _, _, _, done3 = st3.get
    assert ts3 == [] and done3
    b3 = pd.DataFrame(
        {
            "ts_us": [BASE_US + 7_200_000_000],
            "event_id": [9],
            "event_type": ["view"],
        }
    )
    assert list(fn((6,), iter([b3]), st3)) == []
    assert st3.get[4] is True  # tombstone survives


def test_asof_evict_flushes_quiescent_keys(spark, tmp_path):
    """The r11 ADVICE gap: a key that goes quiet must still finalize its
    below-watermark clicks and purge dominated purchases — evict mode
    registers an event-time timeout, so other keys' traffic advancing
    the watermark flushes idle keys too.  User 9 clicks only in burst 0;
    user 2 keeps trafficking for six hourly bursts.  All of user 9's
    clicks must arrive as finals (their last live frame may stay the
    max-version one, so the drain prefers finals by event_id)."""
    from pyspark.sql import functions as F

    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_asof_join,
    )

    bursts = []
    eid = 0
    for b in range(6):
        t0 = BASE_US + b * 3_600_000_000
        rows = []
        if b == 0:
            rows += [
                (9, 900, t0, 11, "L"),
                (9, 901, t0 + 5_000_000, 22, "R"),
                (9, 902, t0 + 10_000_000, 33, "L"),
            ]
            eid = 910
        for j in range(4):
            side = "R" if j == 2 else "L"
            rows.append((2, eid, t0 + j * 5_000_000, 100 * (b + 1) + j, side))
            eid += 1
        bursts.append(rows)
    src = str(tmp_path / "idle_src")
    for burst in bursts:
        spark.createDataFrame(
            burst,
            "user_id long, event_id long, ts_us long, cents long, side string",
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, ts_us long, cents long, side string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", "1 minute")
        .select("user_id", "event_id", "ts", "cents", "side")
    )
    out = streaming_asof_join(stream, evict=True)
    q = (
        out.writeStream.format("memory")
        .queryName("asof_idle_evict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_idle"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    em = spark.table("asof_idle_evict").collect()
    finals = [r for r in em if r["is_final"]]
    fin_ids = [r["event_id"] for r in finals]
    assert len(fin_ids) == len(set(fin_ids))  # exactly-once
    # the quiescent user's clicks flushed WITHOUT any further user-9 rows
    assert {900, 902} <= set(fin_ids), sorted(fin_ids)
    # drain: finals take precedence; live@vmax fills the unfinalized rest
    got = {
        r["event_id"]: (
            r["user_id"], r["ts_us"], r["cents"],
            r["last_purchase_us"], r["last_purchase_cents"],
        )
        for r in finals
    }
    live = [r for r in em if not r["is_final"]]
    vmax: dict[int, int] = {}
    for r in live:
        vmax[r["user_id"]] = max(vmax.get(r["user_id"], 0), r["version"])
    for r in live:
        if r["version"] == vmax[r["user_id"]] and r["event_id"] not in got:
            got[r["event_id"]] = (
                r["user_id"], r["ts_us"], r["cents"],
                r["last_purchase_us"], r["last_purchase_cents"],
            )
    assert got == _expected_asof(bursts)


def test_registered_funnel_evict_plan_actually_evicts(spark):
    """The r12-registered `stream_funnel_evict` gate would pass even if
    no user ever finalized (all served live).  Pin that the registered
    plan's own ordered-chunk replay at sf0.001 finalizes users (anchor +
    deadline below the advancing watermark), exactly once each, and
    emits nothing for them afterwards (tombstone)."""
    from project_obsidian_core_spark.plans.streaming_queries import (
        _funnel_evict_emitted,
    )

    em = _funnel_evict_emitted(spark, "/root/testdata/sf0.001").collect()
    finals = [r for r in em if r["is_final"]]
    assert finals, "registered funnel evict plan never finalized a user"
    fusers = [r["user_id"] for r in finals]
    assert len(fusers) == len(set(fusers))
    by_user_final = {r["user_id"]: r["version"] for r in finals}
    for r in em:
        if r["user_id"] in by_user_final:
            assert r["version"] <= by_user_final[r["user_id"]], r["user_id"]

# ------------- r13: quiescent-key flushes for funnel + sessions ----------
def test_funnel_evict_flushes_quiescent_keys(spark, tmp_path):
    """The r12 ADVICE gap, funnel edition: a user whose anchor expires
    while they send NO further traffic must still finalize — evict mode
    arms an event-time timeout at the anchor's deadline, so other keys'
    traffic advancing the watermark flushes them.  User 9 completes
    view->click in burst 0 then goes silent; user 2 sends noise for six
    hourly bursts (never a view — stays live at stage 0)."""
    bursts = []
    eid = 0
    for b in range(6):
        t0 = BASE_US + b * 3_600_000_000
        rows = []
        if b == 0:
            rows += [
                (9, 900, t0, 0, "view"),
                (9, 901, t0 + 60_000_000, 0, "click"),
            ]
        for j in range(3):
            rows.append((2, eid, t0 + 200_000_000 + j * 5_000_000, 0, "noise"))
            eid += 1
        bursts.append(rows)
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_sequence_funnel,
    )

    stream = _write_bursts(spark, tmp_path, bursts, "fqsrc").select(
        "user_id", "event_id", "ts", "event_type"
    )
    _run(
        streaming_sequence_funnel(
            stream, _F_STAGES, _F_WITHIN_US, evict=True
        ),
        tmp_path,
        "funnel_idle_evict",
    )
    em = spark.table("funnel_idle_evict").collect()
    finals = [r for r in em if r["is_final"]]
    # the quiescent user finalized at stage 2 WITHOUT any further rows
    assert [(r["user_id"], r["max_stage"]) for r in finals] == [(9, 2)]
    # exactly once, and nothing emitted for them afterwards
    fver = finals[0]["version"]
    assert all(
        r["version"] <= fver for r in em if r["user_id"] == 9
    )
    # the trafficking user stays live at stage 0
    live2 = [r for r in em if r["user_id"] == 2 and not r["is_final"]]
    assert live2 and all(r["max_stage"] == 0 for r in live2)


def test_sessions_evict_flushes_quiescent_keys(spark, tmp_path):
    """Gap-session twin of the idle-key flush: user 9's only session
    ends in burst 0; with no further user-9 traffic the tail's gap
    expires under the watermark advanced by user 2's bursts, and the
    session closes via the event-time timeout (state empties)."""
    bursts = []
    eid = 0
    for b in range(6):
        t0 = BASE_US + b * 3_600_000_000
        rows = []
        if b == 0:
            rows += [
                (9, 900, t0, 11, "x"),
                (9, 901, t0 + 10_000_000, 22, "x"),
            ]
        for j in range(3):
            rows.append((2, eid, t0 + 200_000_000 + j * 10_000_000, 5, "x"))
            eid += 1
        bursts.append(rows)
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_gap_sessions,
    )

    stream = _write_bursts(spark, tmp_path, bursts, "sqsrc").selectExpr(
        "user_id", "event_id", "ts", "payload AS cents"
    )
    gap_us = 60_000_000
    _run(
        streaming_gap_sessions(stream, gap_us, evict=True),
        tmp_path,
        "sess_idle_evict",
    )
    em = spark.table("sess_idle_evict").collect()
    finals9 = [r for r in em if r["user_id"] == 9 and r["is_final"]]
    # the quiescent user's session closed WITHOUT any further user-9 rows
    assert [
        (
            r["session_idx"],
            r["session_start_us"],
            r["session_end_us"],
            r["n_events"],
            r["value_sum"],
        )
        for r in finals9
    ] == [(1, BASE_US, BASE_US + 10_000_000, 2, 33)]
    # exactly once
    assert len(finals9) == 1


def test_registered_asof_evict_plan_actually_evicts(spark):
    """The r13-registered `stream_asof_join_evict` gate proves drain ≡
    batch, but would also pass if eviction never fired.  Pin that the
    registered plan's own ordered-chunk replay at sf0.001 finalizes
    clicks out of state, exactly once each."""
    from project_obsidian_core_spark.plans.streaming_queries import (
        _asof_evict_emitted,
    )

    em = _asof_evict_emitted(spark, "/root/testdata/sf0.001").collect()
    finals = [r for r in em if r["is_final"]]
    assert finals, "registered asof evict plan never finalized a click"
    fin_ids = [r["event_id"] for r in finals]
    assert len(fin_ids) == len(set(fin_ids))
    # eviction moved most clicks into finals (the live tail is only the
    # last un-frozen horizon)
    live = [r for r in em if not r["is_final"]]
    vmax: dict[int, int] = {}
    for r in live:
        vmax[r["user_id"]] = max(vmax.get(r["user_id"], 0), r["version"])
    n_live_last = sum(
        1 for r in live if r["version"] == vmax[r["user_id"]]
    )
    assert len(fin_ids) > n_live_last


def test_transitions_evict_flushes_quiescent_keys(spark, tmp_path):
    """Transitions twin of the idle-key flush (r13): user 9 emits an
    a->b->a sequence in burst 0 then goes silent; user 2's six hourly
    bursts advance the watermark.  User 9's both pairs must arrive as
    FINALS, and the additive drain (finals + live@vmax counts) must
    equal the batch — the timeout flush's n=0 version marker is what
    keeps the stale pre-flush live frame out of the sum."""
    from project_obsidian_core_spark.streaming.sequence_state import (
        streaming_transitions,
    )

    bursts = []
    eid = 0
    for b in range(6):
        t0 = BASE_US + b * 3_600_000_000
        rows = []
        if b == 0:
            rows += [
                (9, 900, t0, 0, "a"),
                (9, 901, t0 + 5_000_000, 0, "b"),
                (9, 902, t0 + 10_000_000, 0, "a"),
            ]
        for j in range(3):
            rows.append((2, eid, t0 + 200_000_000 + j * 5_000_000, 0, "x"))
            eid += 1
        bursts.append(rows)
    stream = _write_bursts(spark, tmp_path, bursts, "tqsrc").select(
        "user_id", "event_id", "ts", "event_type"
    )
    _run(streaming_transitions(stream, evict=True), tmp_path, "trans_idle")
    em = spark.table("trans_idle").collect()
    finals9 = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in em
        if r["user_id"] == 9 and r["is_final"]
    }
    # both pairs flushed WITHOUT any further user-9 rows
    assert finals9 == {("a", "b"): 1, ("b", "a"): 1}
    # additive drain == batch for both users
    got: dict[tuple, int] = {}
    for r in em:
        if r["is_final"]:
            k = (r["user_id"], r["prev_type"], r["next_type"])
            got[k] = got.get(k, 0) + r["n"]
    live = [r for r in em if not r["is_final"]]
    vmax: dict[int, int] = {}
    for r in live:
        vmax[r["user_id"]] = max(vmax.get(r["user_id"], 0), r["version"])
    for r in live:
        if r["version"] == vmax[r["user_id"]] and r["n"]:
            k = (r["user_id"], r["prev_type"], r["next_type"])
            got[k] = got.get(k, 0) + r["n"]
    assert got == _expected_transitions(bursts)
    # the version marker exists and carries n=0 (the drain-supersede pin)
    mk = [r for r in live if r["user_id"] == 9 and r["version"] == vmax[9]]
    assert mk and all(r["n"] == 0 for r in mk)
