"""Tests for the event-analytics operators: funnel, retention cohorts,
weighted sampling, beta-likeness, gap-filled rollup, MAD outliers."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import pytest
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark import load_table

from dbms_data_anonymity_differential_privacy_spark.operators.funnel import (
    funnel,
    funnel_user_states,
    retention_cohorts,
)
from dbms_data_anonymity_differential_privacy_spark.operators.metrics import mad_outlier_stats
from dbms_data_anonymity_differential_privacy_spark.operators.sampling import weighted_sample_n
from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
    beta_likeness_audit,
)
from dbms_data_anonymity_differential_privacy_spark.operators.temporal import gapfill_rollup


def ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def ev_df(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")


STEPS = ["a", "b", "c"]


class TestFunnel:
    def test_ordered_conversion_and_dropoff(self, spark):
        rows = [
            # u1 completes in order
            (1, ts(1), "a"), (1, ts(2), "b"), (1, ts(3), "c"),
            # u2: b happens BEFORE a -> never reaches b
            (2, ts(5), "b"), (2, ts(6), "a"),
            # u3: only a
            (3, ts(1), "a"),
            # u4: c only (skips prefix) -> reaches nothing
            (4, ts(1), "c"),
        ]
        out = {r["event_type"]: r["users"] for r in funnel(ev_df(spark, rows), STEPS).collect()}
        assert out == {"a": 3, "b": 1, "c": 1}

    def test_equal_timestamp_chain_counts(self, spark):
        # b at exactly t(a) satisfies ts >= t_prev (the oracle's MIN chain)
        rows = [(1, ts(1), "a"), (1, ts(1), "b")]
        out = {r["event_type"]: r["users"] for r in funnel(ev_df(spark, rows), ["a", "b"]).collect()}
        assert out == {"a": 1, "b": 1}

    def test_earliest_valid_step_time_wins(self, spark):
        rows = [
            (1, ts(1), "b"),  # too early, before a
            (1, ts(2), "a"),
            (1, ts(4), "b"),  # first valid b
            (1, ts(9), "b"),
        ]
        st = funnel_user_states(ev_df(spark, rows), ["a", "b"]).collect()[0]
        assert st["t1"] == ts(2) and st["t2"] == ts(4)

    def test_counts_monotone_nonincreasing(self, spark, sf001):
        ev = spark.read.parquet(f"{sf001}/events.parquet")
        rows = funnel(ev, ["signup", "click", "purchase"]).orderBy("step").collect()
        users = [r["users"] for r in rows]
        assert users == sorted(users, reverse=True)

    def test_rejects_duplicate_steps(self, spark):
        with pytest.raises(ValueError):
            funnel(ev_df(spark, [(1, ts(1), "a")]), ["a", "a"])


class TestRetention:
    def test_cohort_matrix(self, spark):
        w0, w1, w2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 8), dt.datetime(2024, 1, 15)
        rows = [
            (1, w0, "a"), (1, w0 + dt.timedelta(days=2), "a"),  # same week, once
            (1, w2, "a"),                                        # returns at offset 2
            (2, w1, "a"), (2, w2, "a"),                          # cohort w1, retained offset 1
        ]
        out = {
            (r["cohort"], r["period_offset"]): r["active_users"]
            for r in retention_cohorts(ev_df(spark, rows)).collect()
        }
        assert out == {
            ("2024-01-01", 0): 1,
            ("2024-01-01", 2): 1,
            ("2024-01-08", 0): 1,
            ("2024-01-08", 1): 1,
        }

    def test_offset_zero_counts_whole_cohort(self, spark, sf001):
        ev = spark.read.parquet(f"{sf001}/events.parquet")
        out = retention_cohorts(ev)
        zero = out.filter(F.col("period_offset") == 0).agg(F.sum("active_users")).collect()[0][0]
        n_users = ev.select("user_id").distinct().count()
        assert zero == n_users


class TestWeightedSample:
    def _brute_force(self, ids_weights, n, salt):
        keyed = []
        for i, w in ids_weights:
            h = int(hashlib.md5(f"{i}|{salt}".encode()).hexdigest()[:8], 16)
            u = (h + 1) / 2**32
            keyed.append((round(-math.log(u) / w, 9), i))
        return {i for _, i in sorted(keyed)[:n]}

    def test_matches_brute_force_es_keys(self, spark):
        rows = [(i, float(1 + (i * 7) % 13)) for i in range(200)]
        df = spark.createDataFrame(rows, "id long, w double")
        got = {r["id"] for r in weighted_sample_n(df, ["id"], "w", 25, salt="s").collect()}
        assert got == self._brute_force(rows, 25, "s")

    def test_nonpositive_weights_never_selected(self, spark):
        rows = [(1, 0.0), (2, -3.0), (3, None), (4, 5.0)]
        df = spark.createDataFrame(rows, "id long, w double")
        got = {r["id"] for r in weighted_sample_n(df, ["id"], "w", 10, salt="").collect()}
        assert got == {4}

    def test_deterministic_and_layout_independent(self, spark):
        rows = [(i, 1.0 + i % 5) for i in range(100)]
        df = spark.createDataFrame(rows, "id long, w double")
        a = {r["id"] for r in weighted_sample_n(df, ["id"], "w", 10, salt="x").collect()}
        b = {
            r["id"]
            for r in weighted_sample_n(df.repartition(7), ["id"], "w", 10, salt="x").collect()
        }
        assert a == b and len(a) == 10

    def test_heavier_rows_win_more(self, spark):
        # 2 weight classes, 1:100 — the heavy half must dominate the sample
        rows = [(i, 100.0 if i % 2 == 0 else 1.0) for i in range(2000)]
        df = spark.createDataFrame(rows, "id long, w double")
        got = [r["id"] for r in weighted_sample_n(df, ["id"], "w", 100, salt="p").collect()]
        heavy = sum(1 for i in got if i % 2 == 0)
        assert heavy >= 90


class TestBetaLikeness:
    def test_known_gains(self, spark):
        # class A: 3x 'pos' 1x 'neg'; class B: 1x 'pos' 3x 'neg'
        rows = [("A", "pos")] * 3 + [("A", "neg")] + [("B", "pos")] + [("B", "neg")] * 3
        df = spark.createDataFrame(rows, "grp string, s string")
        out = {r["grp"]: r for r in beta_likeness_audit(df, ["grp"], "s", beta=0.4).collect()}
        # global q = 1/2 each; class A: p(pos)=3/4 -> gain 0.5; p(neg)=1/4 -> -0.5
        assert out["A"]["max_gain_r"] == pytest.approx(0.5)
        assert bool(out["A"]["violates"]) is True
        assert out["B"]["max_gain_r"] == pytest.approx(0.5)
        assert out["A"]["class_size"] == 4

    def test_uniform_table_never_violates(self, spark):
        rows = [(g, s) for g in "ABCD" for s in ("x", "y")]
        df = spark.createDataFrame(rows, "grp string, s string")
        out = beta_likeness_audit(df, ["grp"], "s", beta=0.1)
        assert out.filter(F.col("violates")).count() == 0
        assert out.agg(F.max(F.abs("max_gain_r"))).collect()[0][0] == pytest.approx(0.0)

    def test_rejects_bad_beta(self, spark):
        df = spark.createDataFrame([("A", "x")], "grp string, s string")
        with pytest.raises(ValueError):
            beta_likeness_audit(df, ["grp"], "s", beta=0.0)


class TestGapfill:
    def test_zero_fills_and_trailing_avg(self, spark):
        h = lambda i: dt.datetime(2024, 1, 1, i)  # noqa: E731
        rows = [
            (1, h(0), "a", 2.0), (2, h(0), "a", 3.0),  # hour 0: n=2
            # hour 1: gap
            (3, h(2), "a", 1.0),                        # hour 2: n=1
            (4, h(2), "b", 1.0),                        # b exists only in hour 2
        ]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
        out = gapfill_rollup(df, ["event_type"], value_col="value", trailing=3)
        rows_a = {r["bucket_ts"].hour: r for r in out.filter(F.col("event_type") == "a").collect()}
        assert sorted(rows_a) == [0, 1, 2]  # dense over the global range
        assert rows_a[1]["n"] == 0 and rows_a[1]["total"] == 0.0
        assert rows_a[0]["trail_avg_n_r"] == pytest.approx(2.0)      # partial head
        assert rows_a[1]["trail_avg_n_r"] == pytest.approx(1.0)      # (2+0)/2
        assert rows_a[2]["trail_avg_n_r"] == pytest.approx(1.0)      # (2+0+1)/3
        # b is zero-filled over hours 0..2 too (table-wide range)
        assert out.filter(F.col("event_type") == "b").count() == 3

    def test_dense_grid_shape(self, spark, sf001):
        ev = spark.read.parquet(f"{sf001}/events.parquet")
        out = gapfill_rollup(ev, ["event_type"], value_col="value").persist()
        try:
            per_type = out.groupBy("event_type").count().select("count").distinct().collect()
            assert len(per_type) == 1  # every type: identical dense bucket count
        finally:
            # don't leave a cached copy of a registry-identical plan around
            # (the CacheManager would substitute it into later plan gates)
            out.unpersist()


class TestMadOutliers:
    def test_flags_planted_outlier(self, spark):
        base = [("g", float(v)) for v in (1, 2, 3, 4, 5, 6, 7)]
        rows = base + [("g", 1000.0)]
        df = spark.createDataFrame(rows, "grp string, v double")
        out = mad_outlier_stats(df, ["grp"], "v").collect()[0]
        assert out["n"] == 8
        assert out["n_outliers"] == 1
        assert out["med"] == pytest.approx(4.5)

    def test_constant_group_zero_mad_no_outliers(self, spark):
        df = spark.createDataFrame([("g", 5.0)] * 6, "grp string, v double")
        out = mad_outlier_stats(df, ["grp"], "v").collect()[0]
        assert out["mad"] == 0.0 and out["n_outliers"] == 0

    def test_sketch_path_close_to_exact(self, spark, sf001):
        ev = spark.read.parquet(f"{sf001}/events.parquet")
        exact = {r["event_type"]: r for r in mad_outlier_stats(ev, ["event_type"], "value").collect()}
        approx = {
            r["event_type"]: r
            for r in mad_outlier_stats(ev, ["event_type"], "value", exact=False).collect()
        }
        for k, e in exact.items():
            assert approx[k]["med"] == pytest.approx(e["med"], rel=0.05)
            assert approx[k]["mad"] == pytest.approx(e["mad"], rel=0.10)


class TestAttribution:
    def test_last_touch_wins_and_none_bucket(self, spark):
        from dbms_data_anonymity_differential_privacy_spark.operators.funnel import (
            last_touch_attribution,
        )

        rows = [
            (1, ts(1), 7, "view", 0.0, ""),
            (2, ts(2), 7, "click", 0.0, ""),     # latest touch before conv
            (3, ts(3), 7, "purchase", 0.0, ""),
            (4, ts(1), 8, "purchase", 0.0, ""),  # no prior touch
            (5, ts(5), 7, "purchase", 0.0, ""),  # click at ts(2) still latest
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )
        out = {r["touch_type"]: r["conversions"] for r in
               last_touch_attribution(df).collect()}
        assert out == {"click": 2, "(none)": 1}

    def test_credit_sums_to_conversions(self, spark, sf001):
        from dbms_data_anonymity_differential_privacy_spark.operators.funnel import (
            last_touch_attribution,
        )

        ev = spark.read.parquet(f"{sf001}/events.parquet")
        out = last_touch_attribution(ev)
        total = out.agg(F.sum("conversions")).collect()[0][0]
        assert total == ev.filter(F.col("event_type") == "purchase").count()

    def test_tolerance_expires_stale_touches(self, spark):
        from dbms_data_anonymity_differential_privacy_spark.operators.funnel import (
            last_touch_attribution,
        )

        rows = [
            (1, ts(0), 7, "click", 0.0, ""),
            (2, ts(45), 7, "purchase", 0.0, ""),  # 45 min later
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )
        fresh = {r["touch_type"] for r in
                 last_touch_attribution(df, tolerance="1 hour").collect()}
        stale = {r["touch_type"] for r in
                 last_touch_attribution(df, tolerance="30 minutes").collect()}
        assert fresh == {"click"} and stale == {"(none)"}


def test_linear_attribution_credit_conserved_and_split(spark, sf001):
    """x90: total credit across touch types equals the conversion count
    exactly (each conversion distributes one unit); a crafted case
    splits 1/n per prior touch and credits '(none)' for untouched
    conversions."""
    import datetime

    from dbms_data_anonymity_differential_privacy_spark.operators.funnel import (
        linear_attribution,
    )

    ev = load_table(spark, sf001, "events")
    out = linear_attribution(ev).collect()
    n_conv = ev.filter(F.col("event_type") == "purchase").count()
    assert abs(sum(r.credit_r for r in out) - n_conv) < 1e-6

    t0 = datetime.datetime(2024, 1, 1)

    def row(eid, u, sec, typ):
        return (eid, t0 + datetime.timedelta(seconds=sec), u, typ)

    crafted = spark.createDataFrame(
        [
            row(1, 1, 0, "click"), row(2, 1, 10, "view"), row(3, 1, 20, "purchase"),
            row(4, 2, 0, "click"), row(5, 2, 10, "purchase"),
            row(6, 3, 50, "purchase"),  # no prior touch
            row(7, 3, 60, "view"),      # AFTER the conversion: no credit
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = {r.touch_type: r.credit_r for r in linear_attribution(crafted).collect()}
    assert got == {"click": 1.5, "view": 0.5, "(none)": 1.0}


def test_winsorize_bounds_and_interior_identity(spark, sf001):
    """x91: clipped values lie within the group's [p1, p99]; values
    already inside are untouched; row count is preserved."""
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import (
        group_percentiles,
        winsorize,
    )

    ev = load_table(spark, sf001, "events").select("event_id", "event_type", "value")
    out = winsorize(ev, ["event_type"], "value", 0.01, 0.99)
    assert out.count() == ev.count()
    cuts = {
        r.event_type: (r.p1, r.p99)
        for r in group_percentiles(ev, ["event_type"], "value", ps=(0.01, 0.99)).collect()
    }
    for r in out.collect():
        lo, hi = cuts[r.event_type]
        assert lo <= r.value_w <= hi
        if lo <= r.value <= hi:
            assert r.value_w == r.value


def test_funnel_windowed_crafted(spark):
    """X107: conversion outside the step-1-anchored window is excluded;
    the boundary instant t1 + within is inclusive; the anchor is the
    EARLIEST step-1 event (no re-entry)."""
    import datetime as dt

    from dbms_data_anonymity_differential_privacy_spark.operators.funnel import funnel

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        # u1: converts inside the 2h window
        (1, "signup", t0), (1, "click", t0 + h), (1, "purchase", t0 + 2 * h),
        # u2: click at exactly t1+2h (inclusive boundary), purchase late
        (2, "signup", t0), (2, "click", t0 + 2 * h), (2, "purchase", t0 + 3 * h),
        # u3: re-entry trap — early signup anchors; only the late pair
        # would fit a window anchored at the SECOND signup
        (3, "signup", t0), (3, "signup", t0 + 10 * h),
        (3, "click", t0 + 11 * h), (3, "purchase", t0 + 11 * h),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {r.step: r.users for r in
           funnel(df, ["signup", "click", "purchase"], within_seconds=7200).collect()}
    assert out == {1: 3, 2: 2, 3: 1}
    # unbounded control: everyone converts
    out_free = {r.step: r.users for r in
                funnel(df, ["signup", "click", "purchase"]).collect()}
    assert out_free == {1: 3, 2: 3, 3: 3}


def test_interevent_stats_crafted(spark):
    """X120: exact gaps/mean/CV on a hand-built timeline; regular series
    has CV 0; single-event user releases NULL stats."""
    import datetime as dt

    from dbms_data_anonymity_differential_privacy_spark.operators.funnel import interevent_stats

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = (
        # u1: gaps 1s, 3s -> mean 2e6 us, var = ((2*10+9*... compute below
        [(1, 1, t0), (2, 1, t0 + s), (3, 1, t0 + 4 * s)]
        # u2: perfectly regular 5s gaps -> CV 0
        + [(10 + i, 2, t0 + i * 5 * s) for i in range(4)]
        # u3: one event
        + [(20, 3, t0)]
    )
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r.user_id: r for r in interevent_stats(df).collect()}
    g = [1_000_000, 3_000_000]
    n, sg, sgg = 2, sum(g), sum(x * x for x in g)
    mean = sg / n
    var = (n * sgg - sg * sg) / (n * (n - 1))
    assert out[1].n_gaps == 2
    assert out[1].mean_gap_us == (2 * sg + n) // (2 * n)  # integer half-up
    assert out[1].cv_r == round((var ** 0.5) / mean, 6)
    assert out[2].cv_r == 0.0
    assert out[3].n_gaps == 0 and out[3].mean_gap_us is None and out[3].cv_r is None


def test_rolling_active_users_crafted(spark):
    """X121: hand-checked 3-day rolling distinct counts, incl. a user
    active twice in one window counted once, and tail trimming."""
    import datetime as dt

    from dbms_data_anonymity_differential_privacy_spark.operators.funnel import (
        rolling_active_users,
    )

    d = lambda day: dt.datetime(2024, 1, day, 12)  # noqa: E731
    rows = [
        (1, d(1)), (1, d(2)),      # u1 active day1+day2 -> once per window
        (2, d(2)),
        (3, d(5)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r.day: r.active_users for r in
           rolling_active_users(df, window_days=3).collect()}
    # windows (trailing 3 days): d1:{u1}=1 d2:{u1,u2}=2 d3:{u1,u2}=2
    # d4:{u1,u2}=2 d5:{u3}=1 -- trimmed at max observed day (d5)
    assert out == {
        "2024-01-01": 1, "2024-01-02": 2, "2024-01-03": 2,
        "2024-01-04": 2, "2024-01-05": 1,
    }
    import pytest

    with pytest.raises(ValueError):
        rolling_active_users(df, window_days=0)


def test_time_decay_attribution_crafted(spark):
    """X124: hand-computed ppm credits with a 1 h half-life, over-age
    touches dropped without spawning '(none)', credit conservation up
    to DIV remainders."""
    import datetime as dt

    from dbms_data_anonymity_differential_privacy_spark.operators.funnel import (
        time_decay_attribution,
    )

    t0 = dt.datetime(2024, 1, 10, 12)
    h = dt.timedelta(hours=1)
    rows = [
        # conversion with touches 0h and 1h old: w = 1e6, 5e5
        (1, 1, t0 - h, "click"), (2, 1, t0, "view"), (3, 1, t0, "purchase"),
        # conversion whose only touch is beyond max_age: full '(none)'
        (4, 2, t0 - 10 * h, "click"), (5, 2, t0, "purchase"),
        # conversion with no touch at all
        (6, 3, t0, "purchase"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    out = {r.touch_type: r for r in
           time_decay_attribution(df, half_life_hours=1, max_age_hours=5).collect()}
    w0, w1 = 1_000_000, 500_000
    sw = w0 + w1
    assert out["view"].credit_ppm == (w0 * 1_000_000) // sw
    assert out["click"].credit_ppm == (w1 * 1_000_000) // sw
    assert out["(none)"].n_pairs == 2 and out["(none)"].credit_ppm == 2_000_000
    total = sum(r.credit_ppm for r in out.values())
    assert 3_000_000 - 2 <= total <= 3_000_000  # conservation minus DIV remainder
