"""Unit tests for the round-6 temporal operators: linear-interpolation
gap-fill, as-of join, sessionization, and n-gram-Jaccard dedup."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from matrixprofile_spark.operators import dedup as DD
from matrixprofile_spark.operators import gapfill
from matrixprofile_spark.operators import temporal as T


def test_fill_interp_linear_between_observations(spark):
    # observed at t=0 (v=0) and t=180 (v=6); grid step 60 → the two
    # interior NULLs must land on the straight line: 2.0 and 4.0
    grid = spark.createDataFrame(
        [("c", "m", 0, 0.0), ("c", "m", 60, None),
         ("c", "m", 120, None), ("c", "m", 180, 6.0)],
        "conv_id string, metric string, ts_epoch long, value double",
    )
    out = {r.ts_epoch: r.value
           for r in gapfill.fill_interp(grid).collect()}
    assert out == {0: 0.0, 60: 2.0, 120: 4.0, 180: 6.0}


def test_fill_interp_one_sided_holes_fall_back(spark):
    # leading hole has no left bracket → NOCB; trailing hole → LOCF
    grid = spark.createDataFrame(
        [("c", "m", 0, None), ("c", "m", 60, 5.0), ("c", "m", 120, None)],
        "conv_id string, metric string, ts_epoch long, value double",
    )
    out = {r.ts_epoch: r.value
           for r in gapfill.fill_interp(grid).collect()}
    assert out == {0: 5.0, 60: 5.0, 120: 5.0}


def test_asof_join_backward_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [("c", 1, 100), ("c", 2, 250), ("c", 3, 50)],
        "conv_id string, turn_idx long, ts_epoch long",
    )
    right = spark.createDataFrame(
        [("c", 10, 100), ("c", 11, 200), ("c", 12, 300)],
        "conv_id string, turn_idx long, ts_epoch long",
    )
    out = {r.turn_idx: (r.turn_idx_r, r.ts_epoch_r)
           for r in T.asof_join(left, right, ["conv_id"]).collect()}
    # ts=100 matches the SAME instant (at-or-before); ts=250 the 200
    # point; ts=50 has nothing before it → NULLs
    assert out == {1: (10, 100), 2: (11, 200), 3: (None, None)}


def test_asof_join_tie_survivor_is_max_payload(spark):
    left = spark.createDataFrame(
        [("c", 1, 100)], "conv_id string, turn_idx long, ts_epoch long")
    right = spark.createDataFrame(
        [("c", 7, 100), ("c", 9, 100)],
        "conv_id string, turn_idx long, ts_epoch long",
    )
    [row] = T.asof_join(left, right, ["conv_id"]).collect()
    assert row.turn_idx_r == 9  # deterministic: max payload per (key, ts)


def test_asof_join_forward(spark):
    left = spark.createDataFrame(
        [("c", 1, 150)], "conv_id string, turn_idx long, ts_epoch long")
    right = spark.createDataFrame(
        [("c", 5, 100), ("c", 6, 200)],
        "conv_id string, turn_idx long, ts_epoch long",
    )
    [row] = T.asof_join(left, right, ["conv_id"],
                        direction="forward").collect()
    assert (row.turn_idx_r, row.ts_epoch_r) == (6, 200)


def test_sessionize_splits_on_gap(spark):
    rows = [("c", i, ts) for i, ts in
            enumerate([0, 10, 20, 400, 410, 900])]  # gaps 380 and 490
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, ts_epoch long")
    out = sorted((r.session_idx, r.start_ts, r.end_ts, r.n_turns, r.span_s)
                 for r in T.sessionize(t, gap_s=180).collect())
    assert out == [(0, 0, 20, 3, 20), (1, 400, 410, 2, 10), (2, 900, 900, 1, 0)]


def test_rare_shingle_pairs_finds_near_dup_and_bounds_fanout(spark):
    words = [f"w{i}" for i in range(30)]
    a = " ".join(words)
    b = " ".join(words[:-1])          # near-dup of a (last word dropped)
    boiler = "the same three words " * 8
    docs = spark.createDataFrame(
        [(1, a), (2, b)] + [(10 + i, boiler.strip()) for i in range(6)],
        "doc_id long, text string",
    )
    out = DD.rare_shingle_pairs(docs, n=3, threshold=0.5,
                                max_shingle_freq=3).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert set(pairs) == {(1, 2)}  # boilerplate clones blocked by the
    # frequency cut (df=6 > 3) — no quadratic candidate fan-out
    expect = 27 / 28  # a: 28 trigrams, b: 27 (all shared) → |A∪B|=28
    assert abs(pairs[(1, 2)] - expect) < 1e-9
    hot = DD.hot_shingles(docs, n=3, max_shingle_freq=3).collect()
    assert all(r.n_docs == 6 for r in hot) and len(hot) > 0


def test_rare_shingle_pairs_matches_bruteforce(spark):
    rng = np.random.default_rng(11)
    vocab = [f"t{i}" for i in range(40)]
    texts = [" ".join(rng.choice(vocab, size=25)) for _ in range(12)]
    texts += [texts[0].rsplit(" ", 1)[0], texts[3] + " extra"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {(r.id_a, r.id_b): round(r.jaccard, 9)
           for r in DD.rare_shingle_pairs(
               docs, n=3, threshold=0.4, max_shingle_freq=100).collect()}

    def sh(t):
        tok = t.split(" ")
        return {" ".join(tok[i:i + 3]) for i in range(len(tok) - 2)}

    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            A, B = sh(texts[i]), sh(texts[j])
            jac = len(A & B) / len(A | B)
            if jac >= 0.4 and A & B:
                want[(i, j)] = round(jac, 9)
    assert got == want


def test_stream_sessionize_matches_batch(spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    for c in range(4):
        ts = np.cumsum(rng.integers(1, 400, size=40)).tolist()
        rows += [(f"c{c}", i, int(t)) for i, t in enumerate(ts)]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, ts_epoch long")
    t.write.mode("overwrite").parquet(f"{tmp_path}/src")

    from matrixprofile_spark.streaming.structured import stream_sessionize
    from matrixprofile_spark.operators import temporal as T

    got = sorted(
        (r.conv_id, r.start_ts, r.end_ts, r.n_turns, r.span_s)
        for r in stream_sessionize(
            spark, f"{tmp_path}/src", query_name="t_sess").collect())
    want = sorted(
        (r.conv_id, r.start_ts, r.end_ts, r.n_turns, r.span_s)
        for r in T.sessionize(t, gap_s=180).collect())
    assert got == want and len(got) > 8


def test_m4_downsample_picks_extremal_points(spark):
    from matrixprofile_spark.operators.downsample import m4_downsample

    rows = [("c", "m", i, ts, v) for i, (ts, v) in enumerate(
        [(0, 5.0), (10, 1.0), (20, 9.0), (30, 3.0),   # bucket 0
         (120, 2.0), (130, 2.0), (140, 8.0)])]        # bucket 120
    ser = spark.createDataFrame(
        rows, "conv_id string, metric string, idx long, ts_epoch long, "
              "value double")
    out = {r.bucket_epoch: r.asDict()
           for r in m4_downsample(ser, 120).collect()}
    b0, b1 = out[0], out[120]
    assert (b0["t_first"], b0["v_first"]) == (0, 5.0)
    assert (b0["t_min"], b0["v_min"]) == (10, 1.0)
    assert (b0["t_max"], b0["v_max"]) == (20, 9.0)
    assert (b0["t_last"], b0["v_last"]) == (30, 3.0)
    # value tie at v=2.0: min resolves to the EARLIEST ts
    assert (b1["t_min"], b1["v_min"]) == (120, 2.0)
    assert (b1["t_max"], b1["v_max"]) == (140, 8.0)


def test_lttb_keeps_endpoints_and_extremes(spark):
    from matrixprofile_spark.operators.downsample import (
        lttb_downsample, lttb_select)

    # a flat series with one deep valley: LTTB must keep the valley
    ts = np.arange(100, dtype="float64")
    vs = np.full(100, 10.0)
    vs[57] = -50.0
    sel = lttb_select(ts, vs, 10)
    assert sel[0] == 0 and sel[-1] == 99
    assert 57 in sel
    assert sel == sorted(sel) and len(sel) == 10
    # n <= k: identity
    assert lttb_select(ts[:5], vs[:5], 10) == [0, 1, 2, 3, 4]

    rows = [("c", "m", int(t), float(v)) for t, v in zip(ts, vs)]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts_epoch long, value double")
    out = lttb_downsample(df, 10).orderBy("s").collect()
    assert [r.ts_epoch for r in out] == [int(ts[i]) for i in sel]


def test_counter_increase_handles_resets(spark):
    from matrixprofile_spark.operators.rates import counter_increase

    # counter: 10, 40, 5 (reset), 25 — increases 30, 5, 20; first
    # sample contributes nothing
    rows = [("c", "m", 0, 10.0), ("c", "m", 30, 40.0),
            ("c", "m", 70, 5.0), ("c", "m", 100, 25.0)]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts_epoch long, value double")
    out = {r.bucket_epoch: (r.increase, r.n_samples)
           for r in counter_increase(df, 60).collect()}
    assert out == {0: (30.0, 1), 60: (25.0, 2)}


def test_time_weighted_avg_weights_by_duration(spark):
    from matrixprofile_spark.operators.rates import time_weighted_avg

    # bucket [0, 3600): v=10 holds 0→1800, v=20 holds 1800→3600 (bucket
    # end) → twa = 15; the sample-count mean of (10, 20, 20, 20) would
    # be 17.5 if the burst at 1800s were equally weighted
    rows = [("c", "m", 0, 10.0), ("c", "m", 1800, 20.0)]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts_epoch long, value double")
    [r] = time_weighted_avg(df, 3600).collect()
    assert (r.twa, r.n_samples) == (15.0, 2)


def test_histogram_cascade_equals_direct(spark):
    from matrixprofile_spark.operators import rollup

    rng = np.random.default_rng(5)
    rows = [("c", "m", int(t), float(v)) for t, v in zip(
        np.cumsum(rng.integers(10, 500, size=300)),
        rng.integers(0, 900, size=300))]
    ser = spark.createDataFrame(
        rows, "conv_id string, metric string, ts_epoch long, value double")
    fine = rollup.histogram_rollup(ser, 600, 100.0)
    cascaded = rollup.histogram_cascade(fine, 6000)
    direct = rollup.histogram_rollup(ser, 6000, 100.0)
    assert cascaded.exceptAll(direct).count() == 0
    assert direct.exceptAll(cascaded).count() == 0


def test_gapfill_interp_fused_equals_composed(spark):
    rng = np.random.default_rng(9)
    rows = []
    for c in range(3):
        t = np.cumsum(rng.integers(30, 400, size=50))
        rows += [(f"c{c}", "m", int(tt), float(v)) for tt, v in
                 zip(t, rng.integers(0, 500, size=50))]
    ser = spark.createDataFrame(
        rows, "conv_id string, metric string, ts_epoch long, value double")
    fused = gapfill.gapfill_interp(ser, 60)
    composed = gapfill.fill_interp(gapfill.to_grid(ser, 60))
    assert fused.exceptAll(composed).count() == 0
    assert composed.exceptAll(fused).count() == 0
    # and the fused plan has no join and at most 2 exchanges
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Cartesian" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_metric_corr_and_acf_exact_cases(spark):
    from matrixprofile_spark.operators import series as S2

    # latency gaps 10,20,30 and token lengths exactly tracking them:
    # ts = 0,10,30,60; text lengths 1,2,4,6 → x=(10,20,30), y=(2,4,6)
    # perfectly linear → corr = 1
    rows = [("c", 0, "a", 0), ("c", 1, "ab", 10),
            ("c", 2, "abcd", 30), ("c", 3, "abcdef", 60)]
    t = spark.createDataFrame(
        [(c, i, txt, ts) for c, i, txt, ts in rows],
        "conv_id string, turn_idx long, text string, ts_epoch long")
    [r] = S2.metric_corr(t).collect()
    assert (r.n_turns, r.corr_r6) == (3, 1.0)

    # ACF of a strictly alternating series at lag 1 is -1, lag 2 is +1
    ser = spark.createDataFrame(
        [("c", "m", i, i, float(1 if i % 2 else -1)) for i in range(40)],
        "conv_id string, metric string, idx long, ts_epoch long, "
        "value double")
    out = {r.lag: r.acf_r6 for r in S2.acf(ser, 2).collect()}
    assert out == {1: -1.0, 2: 1.0}


def test_seasonal_decompose_constant_and_ramp(spark):
    from matrixprofile_spark.operators import series as S2

    # constant: trend = c, seasonal = 0, residual = 0 (interior points)
    # linear ramp: centered MA of a line is the line itself → same
    rows = [("c", "m", i, i, 7.0) for i in range(30)]
    rows += [("r", "m", i, i, float(3 * i)) for i in range(30)]
    ser = spark.createDataFrame(
        rows, "conv_id string, metric string, idx long, ts_epoch long, "
              "value double")
    out = S2.seasonal_decompose(ser, 12).collect()
    for r in out:
        if r.trend_xw is None:
            assert r.idx < 6 or r.idx > 23  # only edge rows undefined
            continue
        # integer-numerator contract: trend = trend_xw / 13,
        # seasonal = seasonal_xwn / (13·n), resid = resid_xwn / (13·n)
        want = 7.0 if r.conv_id == "c" else 3.0 * r.idx
        assert r.trend_xw == 13 * want
        assert r.seasonal_xwn == 0 and r.resid_xwn == 0
        assert r.n_phase >= 1


def test_interval_join_matches_naive_between(spark):
    """Grid-bucketed containment join == the naive non-equi BETWEEN
    join, including intervals spanning several grid cells, zero-length
    intervals, inclusive bounds, and cross-key isolation."""
    from itertools import product

    from matrixprofile_spark.operators.temporal import interval_join

    ivs = [("a", 0, 100, 250), ("a", 1, 300, 300), ("b", 0, 50, 449),
           ("a", 2, 260, 460)]
    pts = [("a", i, ts) for i, ts in enumerate(
        [99, 100, 250, 251, 299, 300, 301, 350, 460, 461])]
    pts += [("b", 100, 100), ("b", 101, 450)]
    intervals = spark.createDataFrame(
        ivs, "conv_id string, session_idx long, start_ts long, "
             "end_ts long")
    points = spark.createDataFrame(
        pts, "conv_id string, event_id long, ts_epoch long")
    got = sorted(
        (r.conv_id, r.session_idx, r.event_id)
        for r in interval_join(
            intervals, points, ["conv_id"], grid_s=100).collect())
    want = sorted(
        (ik, iidx, pid)
        for (ik, iidx, s, e), (pk, pid, ts) in product(ivs, pts)
        if ik == pk and s <= ts <= e)
    assert got == want
    # a matching pair meets in exactly one cell → no duplicates
    assert len(got) == len(set(got))


def test_interval_join_plans_hash_join_not_nested_loop(spark):
    """The containment predicate must ride a hash equi-join on
    (keys, cell) — never a BroadcastNestedLoopJoin / cartesian, which
    is the quadratic per-key cross product at 100 TB."""
    from matrixprofile_spark.operators.temporal import interval_join

    intervals = spark.createDataFrame(
        [("a", 0, 100, 250)],
        "conv_id string, session_idx long, start_ts long, end_ts long")
    points = spark.createDataFrame(
        [("a", 1, 150)], "conv_id string, event_id long, ts_epoch long")
    plan = interval_join(intervals, points, ["conv_id"])\
        ._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
