"""Tests for the event-analytics operators that stay with the privacy
core: weighted sampling, beta-likeness, MAD outliers, winsorizing."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark import load_table

from dbms_data_anonymity_differential_privacy_spark.operators.metrics import mad_outlier_stats
from dbms_data_anonymity_differential_privacy_spark.operators.sampling import weighted_sample_n
from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
    beta_likeness_audit,
)


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
